"""The workloads.  Each drives the public ``BM25SparkClient`` API
from one closed-loop client, records every operation, checks every answer
against the FTS5 oracle after the timed phase, and turns its records into
the end-to-end and per-layer metrics named in BENCHMARK.json.

A workload runs in three steps:

* ``prepare``: set-up (the index build and warm-up on every code path
  the timed phase uses); returns its duration, less the time spent
  writing corpus snapshots.
* ``measure``: the timed phase.  Untraced it runs until ``--seconds`` have
  passed and at least ``min_ops`` operations are done; traced it runs
  exactly ``traced_ops``, so counts repeat exactly.
* ``verify``: compare every recorded answer with the oracle.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager, nullcontext

import pyarrow as pa
import pyarrow.parquet as pq

from bm25_index_tool_spark.client import BM25SparkClient
from bm25_index_tool_spark.delta_store import segment_ids

from perfbench import oracle
from perfbench import workload as W

N_DOCS = 10_000
TOP_K = 10


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, 0 <= q <= 100."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Context:
    """What a workload needs from the run: the client, a place for corpus
    snapshots, the operation log and (traced runs) the tracer."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.client = BM25SparkClient(spark, os.path.join(work_dir, "root"))
        self.tracer = None  # set while a traced phase runs
        self.ops: list[dict] = []
        self.corpus_s = 0.0  # time spent writing snapshots, not the program's
        self._snapshots = 0

    def corpus(self, docs):
        """Write ``docs`` to parquet and return them as a DataFrame, so a
        timed call measures the program's work, not ``createDataFrame``."""
        t0 = now()
        self._snapshots += 1
        path = os.path.join(self.work_dir, f"corpus-{self._snapshots}.parquet")
        cols = list(zip(*(d.row() for d in docs)))
        names = ["repo", "path", "commit", "lang", "content"]
        pq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}), path)
        frame = self.spark.read.schema(W.CORPUS_SCHEMA).parquet(path)
        self.corpus_s += now() - t0
        return frame

    def index_dir(self, name: str) -> str:
        return self.client._index_dir(name)

    @contextmanager
    def op(self, kind: str, **attrs):
        """Time one client call as an operation.  An exception is recorded
        on the operation (it counts as failed) and the run goes on."""
        rec = {"kind": kind, **attrs}
        span = self.tracer.span(kind) if self.tracer else nullcontext({})
        t0 = now()
        try:
            with span as sp:
                yield rec
        except Exception as e:  # noqa: BLE001 — counted in `failed`
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
        rec["ms"] = (now() - t0) * 1000.0
        rec["span"] = sp.get("id")
        self.ops.append(rec)
        if self.tracer:
            self.tracer.read_spark()


def _hits(rows) -> list[oracle.Hit]:
    return [(r["path"], r["score"]) for r in rows]


class Workload:
    name = ""
    index = ""
    min_ops = 1  # primary operations an untraced measured phase always runs
    traced_ops = 1  # primary operations a traced measured phase runs

    def __init__(self, seed: int):
        self.docs = W.make_corpus(N_DOCS, seed)
        self.bands = W.term_bands(self.docs)
        self.oracle = oracle.ReplayOracle()
        self.oracle.load(self.docs)

    def prepare(self, ctx: Context) -> float:
        raise NotImplementedError

    def measure(self, ctx: Context, seconds: float, traced: bool) -> list[dict]:
        raise NotImplementedError

    def verify(self, ops: list[dict]) -> int:
        """Number of answers in ``ops`` that disagree with the oracle.
        Called once per phase, in the order the phases ran."""
        raise NotImplementedError

    def space_amp(self, ctx: Context) -> float:
        raise NotImplementedError

    def _more(self, done: int, traced: bool, start: float, seconds: float) -> bool:
        """Whether a measured phase that has done ``done`` operations goes on."""
        if traced:
            return done < self.traced_ops
        return done < self.min_ops or now() - start < seconds

    def _create(self, ctx: Context) -> None:
        corpus = ctx.corpus(self.docs)
        with ctx.op("create", docs=len(self.docs)):
            ctx.client.create_index(self.index, corpus)

    def _search(self, ctx: Context, q: str, **attrs) -> None:
        with ctx.op("search", query=q, **attrs) as rec:
            rec["hits"] = _hits(ctx.client.search(self.index, q, TOP_K))


# -- interactive search -------------------------------------------------------


class SearchZipf(Workload):
    """One user searching a static index; every third search repeats an
    earlier query, so the LRU cache hits on exactly a third."""

    name = "search_zipf"
    index = "zipf"
    min_ops = 12
    traced_ops = 12  # a multiple of 3: the hit ratio is exactly 1/3
    POOL = 400
    STREAM = 600
    REPEAT_S = 1.0
    WARMUP_QUERIES = 3  # one of each term count

    def __init__(self, seed: int):
        super().__init__(seed)
        pool = W.make_queries(self.docs, self.bands, self.POOL, seed, "pool")
        self.stream = [
            pool[i] for i in W.search_stream(self.POOL, self.STREAM, self.REPEAT_S, seed)
        ]
        self.warmup = W.make_queries(
            self.docs, self.bands, self.WARMUP_QUERIES, seed, "warmup"
        )
        self._expected: dict[str, list] = {}

    def prepare(self, ctx):
        t0, c0 = now(), ctx.corpus_s
        self._create(ctx)
        for q in self.warmup:
            self._search(ctx, q)
        ctx.client.cache.clear()
        return now() - t0 - (ctx.corpus_s - c0)

    def measure(self, ctx, seconds, traced):
        ctx.client.cache.clear()
        first = len(ctx.ops)
        start = now()
        for i, q in enumerate(self.stream):
            if not self._more(i, traced, start, seconds):
                break
            self._search(ctx, q)
        return ctx.ops[first:]

    def verify(self, ops):
        bad = 0
        for op in ops:
            if "hits" in op:
                q = op["query"]
                if q not in self._expected:
                    self._expected[q] = self.oracle.expected(q, TOP_K)
                bad += oracle.compare(op["hits"], self._expected[q], TOP_K) is not None
        return bad

    def space_amp(self, ctx):
        return dir_bytes(ctx.index_dir(self.index)) / W.content_bytes(self.docs)


# -- ingest churn -------------------------------------------------------------


class IngestChurn(Workload):
    """Writes beside reads.  Set-up builds the base index; then every round
    commits an append update, checks it with five read-after-write
    searches (the first reopens the index, the last repeats the first and
    hits the cache) and folds the two outstanding segments with a tiered
    merge.  Every round starts from one segment, so rounds compare like
    for like."""

    name = "ingest_churn"
    index = "churn"
    min_ops = 2  # rounds
    traced_ops = 1
    MAX_ROUNDS = 12
    CHANGE_FRAC = 0.01

    def __init__(self, seed: int):
        super().__init__(seed)
        self.rounds = W.make_rounds(self.docs, self.MAX_ROUNDS, self.CHANGE_FRAC, seed)
        self.searches = []
        for i, r in enumerate(self.rounds):
            # read-after-write: the searches come from the docs just written
            qs = W.make_queries(
                list(r.added + r.modified), self.bands, 4, seed, f"raw{i}"
            )
            self.searches.append((*qs, qs[0]))
        self._next = 0  # next round to commit
        self._applied = 0  # rounds replayed into the oracle
        self._final = self.docs

    def _update(self, ctx: Context) -> int:
        i, rnd = self._next, self.rounds[self._next]
        self._next += 1
        snap = ctx.corpus(rnd.snapshot)
        with ctx.op("update", round=i, changed=rnd.changed):
            ctx.client.update_index(self.index, snap)
        self._final = rnd.snapshot
        return i

    def _round(self, ctx: Context, updates: int = 1, n_searches: int = 5) -> None:
        for _ in range(updates):
            i = self._update(ctx)
        segs = len(segment_ids(ctx.index_dir(self.index)))
        for j, q in enumerate(self.searches[i][:n_searches]):
            self._search(ctx, q, round=i, first=j == 0, segments=segs)
        with ctx.op("compact", round=i):
            ctx.client.compact_index(self.index, tiered=True)

    def prepare(self, ctx):
        """Build the base index, then one warm-up round that commits two
        updates, so its search and merge see two segments like every timed
        round's do."""
        t0, c0 = now(), ctx.corpus_s
        self._create(ctx)
        self._round(ctx, updates=2, n_searches=1)
        return now() - t0 - (ctx.corpus_s - c0)

    def measure(self, ctx, seconds, traced):
        first = len(ctx.ops)
        start = now()
        n = 0
        last = self.MAX_ROUNDS - (0 if traced else self.traced_ops)
        while self._next < last and self._more(n, traced, start, seconds):
            self._round(ctx)
            n += 1
        return ctx.ops[first:]

    def verify(self, ops):
        """Replay the rounds into the oracle in commit order, checking each
        search against the oracle state it read."""
        bad = 0
        for op in ops:
            if op["kind"] == "update":
                while self._applied <= op["round"]:
                    self.oracle.apply(self.rounds[self._applied])
                    self._applied += 1
            elif "hits" in op:
                exp = self.oracle.expected(op["query"], TOP_K)
                bad += oracle.compare(op["hits"], exp, TOP_K) is not None
        return bad

    def space_amp(self, ctx):
        return dir_bytes(ctx.index_dir(self.index)) / W.content_bytes(self._final)


WORKLOADS = {w.name: w for w in (SearchZipf, IngestChurn)}


# -- metrics ------------------------------------------------------------------


def _search_ms(ops: list[dict]) -> list[float]:
    return [op["ms"] for op in ops if op["kind"] == "search"]


def _search_qps(ops: list[dict]) -> float:
    """Searches answered per second of search-call time."""
    lat = _search_ms(ops)
    return len(lat) / (sum(lat) / 1000.0)


def end_to_end(
    wl: Workload, ctx: Context, setup_ops: list[dict], ops: list[dict],
    setup_s: float, rss_mb: float,
) -> dict[str, float]:
    lat = _search_ms(ops)
    (build_s,) = [op["ms"] / 1000 for op in setup_ops if op["kind"] == "create"]
    build_docs_per_s = N_DOCS / build_s
    writes = [op for op in ops if op["kind"] in ("update", "compact")]
    if writes:
        write_docs_per_s = sum(op.get("changed", 0) for op in writes) / (
            sum(op["ms"] for op in writes) / 1000.0
        )
    else:  # a read-only workload writes only in set-up
        write_docs_per_s = build_docs_per_s
    return {
        "setup_s": setup_s,
        "query_p50_ms": percentile(lat, 50),
        "query_p95_ms": percentile(lat, 95),
        "queries_per_s": _search_qps(ops),
        "build_docs_per_s": build_docs_per_s,
        "write_docs_per_s": write_docs_per_s,
        "space_amp": wl.space_amp(ctx),
        "peak_rss_mb": rss_mb,
    }


def _spark_sum(spans: list[dict], field: str) -> float:
    return float(sum(sp.get("spark", {}).get(field, 0) for sp in spans))


def layers(
    spans: list[dict], setup_ops: list[dict], ops: list[dict],
    untraced: list[dict], gc_ms: float, heap_mb: float,
) -> dict[str, float]:
    """Per-layer metrics of a traced phase (``ops``, with their ``spans``;
    the build comes from the traced ``setup_ops``) plus the tracing
    overhead against as many untraced operations."""
    by_op: dict[int, list[dict]] = {}
    by_id = {sp["id"]: sp for sp in spans}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)

    def named(name, sel=ops):
        return [
            sp for op in sel for sp in by_op.get(op["span"], []) if sp["name"] == name
        ]

    def ms(name):
        return median([sp["ms"] for sp in named(name)])

    def per_op(kind, field):
        sel = [by_id[op["span"]] for op in ops if op["kind"] == kind]
        return _spark_sum(sel, field) / len(sel) if sel else 0.0

    gets = named("cache.get")
    reopen = [
        sum(sp["ms"] for sp in by_op.get(op["span"], [])
            if sp["name"] in ("score.open", "score.plan"))
        for op in ops if op["kind"] == "search" and op.get("first")
    ]
    build = named("build", setup_ops)
    updates = [op for op in ops if op["kind"] == "update"]
    update_spans = [by_id[op["span"]] for op in updates]
    searches = [op for op in ops if op["kind"] == "search"]
    changed = sum(op["changed"] for op in updates)
    mb = 2.0**20
    out = {
        "history.log_ms": ms("history.log"),
        "score.plan_ms": ms("score.plan"),
        "score.collect_ms": ms("score.collect"),
        "score.reopen_ms": median(reopen),
        "cache.hit_ratio": (sum(sp["hit"] for sp in gets) / len(gets)) if gets else 0.0,
        "spark.jobs_per_search": per_op("search", "jobs"),
        "spark.stages_per_search": per_op("search", "stages"),
        "spark.tasks_per_search": per_op("search", "tasks"),
        "spark.scan_bytes_per_search": per_op("search", "input_bytes"),
        "spark.shuffle_bytes_per_search": per_op("search", "shuffle_write_bytes"),
        "spark.executor_ms_per_search": per_op("search", "executor_ms"),
        "build.wall_s": sum(sp["ms"] for sp in build) / 1000,
        "build.jobs": _spark_sum(build, "jobs"),
        "build.executor_s": _spark_sum(build, "executor_ms") / 1000,
        "build.shuffle_write_mb": _spark_sum(build, "shuffle_write_bytes") / mb,
        "build.output_mb": _spark_sum(build, "output_bytes") / mb,
        "update.wall_ms": median([op["ms"] for op in updates]),
        "update.jobs": per_op("update", "jobs"),
        "update.executor_s": per_op("update", "executor_ms") / 1000,
        "update.bytes_written_per_changed_doc": (
            _spark_sum(update_spans, "output_bytes") / changed if changed else 0.0
        ),
        "delta_store.merge_ms": ms("delta_store.merge"),
        "delta_store.segments": (
            statistics.fmean(op["segments"] for op in searches)
            if searches and "segments" in searches[0] else 0.0
        ),
        "jvm.gc_ms": gc_ms,
        "jvm.heap_retained_mb": heap_mb,
    }
    # tracing overhead: the traced phase against the same prefix untraced
    base = untraced[: len(ops)]
    p50_t = percentile(_search_ms(ops), 50)
    p50_u = percentile(_search_ms(base), 50)
    out["trace.query_p50_overhead_pct"] = 100.0 * (p50_t / p50_u - 1.0)
    out["trace.queries_per_s_overhead_pct"] = 100.0 * (
        _search_qps(base) / _search_qps(ops) - 1.0
    )
    return out
