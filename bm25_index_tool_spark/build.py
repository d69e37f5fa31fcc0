"""Distributed inverted-index build (SURVEY.md §2.3, §7 step 3).

What the reference delegates to SQLite FTS5 triggers at INSERT time
(reference ``storage/sqlite_storage.py:204-225``) is rebuilt here as an
idiomatic Spark dataflow:

    corpus (repo, path, commit, lang, content)
      → deterministic doc_id assignment (range-partitioned sort + offsets,
        no single-partition window, no monotonically_increasing_id)
      → one vectorized tokenize of the FTS document (path ⊕ filename ⊕
        content — all three FTS5 columns at weight 1.0, SURVEY.md §2.4)
      → explode → partial+final hash-agg to postings (term, doc_id, tf, dl)
        [dl denormalized into postings so query-time scoring never joins
         the N-row doc-length table — scale-critical]
      → term stats (df) as a DataFrame aggregate
      → term-hash-bucketed, sorted parquet + JSON manifest
      → per-stage checkpoints with per-bucket lineage/metrics (resumable)

Skew note: the postings aggregation keys on (term, doc_id) — cardinality is
per-(term,doc) so hot terms do NOT skew the agg.  The bucketed write
(``write_table``) uses ``repartition(bucket)`` + ``sortWithinPartitions``;
hot buckets are bounded by num_buckets choice, and AQE handles residual
imbalance.  For the block-format path, postings of terms with df >
salt_threshold are split into doc_id-sharded salted runs (blocks.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import dataclasses
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from bm25_index_tool_spark.tokenize import tokenizer_for

INDEX_FORMAT_VERSION = 2
DEFAULT_NUM_BUCKETS = 32
BROADCAST_IDS_THRESHOLD = 5_000_000

DOCS_DIR = "docs"
POSTINGS_DIR = "postings"
TERMSTATS_DIR = "termstats"
BLOCKS_DIR = "blocks"
CHECKPOINT_DIR = "_checkpoints"
MANIFEST = "manifest.json"

# declared schemas of the base tables (partition column last, as a
# partitioned read orders it): reads skip the parquet footer-inference job.
# The docs table's schema follows the corpus, so the manifest records it
# (IndexManifest.docs_schema).
POSTINGS_SCHEMA = "doc_id BIGINT, term STRING, tf INT, dl INT, bucket INT"
TERMSTATS_SCHEMA = "term STRING, df BIGINT, bucket INT"

# THE layout of each table, base and segment alike: its partition column
# and its sort keys, which lead with that column.  A partitioned base write
# then inserts no second sort, and a flat segment file keeps tight row-group
# min/max on it, so a query's bucket IN (...) prunes either form.  Docs are
# not sorted by doc_id: lookups prune by doc_pt, and the content sort read
# slower in the build.
LAYOUTS = {
    POSTINGS_DIR: ("bucket", ("bucket", "term", "doc_id")),
    TERMSTATS_DIR: ("bucket", ("bucket", "term")),
    DOCS_DIR: ("doc_pt", ("doc_pt",)),
}


@dataclass
class BM25Params:
    """Carried in the manifest.  The reference *stores* configurable k1/b but
    FTS5 always scores with k1=1.2, b=0.75 (reference ``core/indexer.py:42``,
    SURVEY.md §0) — unlike the reference, our scorer genuinely applies these.
    Defaults match FTS5 so default-profile ranking is reference-identical.
    """

    k1: float = 1.2
    b: float = 0.75


@dataclass
class IndexManifest:
    name: str
    num_docs: int
    avgdl: float
    num_buckets: int
    tokenizer_profile: str = "unicode61"
    params: BM25Params = field(default_factory=BM25Params)
    index_version: int = INDEX_FORMAT_VERSION
    created_at: str = ""
    source: dict = field(default_factory=dict)
    # exact corpus token count (avgdl = total_tokens / num_docs), so
    # updates delta-adjust avgdl without a full scan
    total_tokens: int = 0
    # monotonic doc_id high-water mark: the next id an update may mint.
    # Id rotation never reuses an id that ever existed — a tombstoned
    # max-id must not be re-minted (the tombstone anti-join would hide the
    # new doc) and a compaction must not reset the counter (ADVICE r03)
    next_doc_id: int = 1
    # commit counter: save_manifest writes the committed value + 1, and
    # every writer re-saves the manifest as its last step
    generation: int = 0
    # one id per build: an overwrite rebuild restarts the generation count
    build_id: str = ""
    # DDL of the docs base (partition column doc_pt last); every docs base
    # and docs segment read declares it
    docs_schema: str = ""

    def to_json(self) -> str:
        d = dict(self.__dict__)
        d["params"] = self.params.__dict__
        return json.dumps(d, indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "IndexManifest":
        d = json.loads(s)
        fmt = d.get("index_version")
        if fmt != INDEX_FORMAT_VERSION:
            raise ValueError(
                f"index format {fmt} is not readable by this engine (format "
                f"{INDEX_FORMAT_VERSION}); rebuild it with "
                "create_index(..., overwrite=True)"
            )
        d["params"] = BM25Params(**d["params"])
        return cls(**d)


def load_manifest(index_dir: str) -> IndexManifest:
    with open(os.path.join(index_dir, MANIFEST)) as f:
        return IndexManifest.from_json(f.read())


def save_manifest(index_dir: str, manifest: IndexManifest) -> IndexManifest:
    """Commit ``manifest`` as the index's next generation and return it.

    The generation is the committed one + 1, read under the write lock, so
    a journal replay that re-saves a manifest never reuses a generation.
    tmp + fsync + os.replace: a concurrent reader only ever sees a
    complete committed manifest."""
    from bm25_index_tool_spark.delta_store import write_lock

    path = os.path.join(index_dir, MANIFEST)
    with write_lock(index_dir):
        try:
            committed = load_manifest(index_dir).generation
        except FileNotFoundError:
            committed = 0
        manifest = dataclasses.replace(manifest, generation=committed + 1)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(manifest.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    return manifest


def write_table(
    df: DataFrame, path: str, table: str, tasks: int, *, partitioned: bool = True
) -> None:
    """THE writer of the postings, termstats and docs tables (``table`` is
    one of ``LAYOUTS``): ``tasks`` hash partitions on the partition column,
    each sorted by the layout keys.  A base table is directory-partitioned;
    with ``tasks`` ≤ the number of partition values each dir is written by
    one task and holds one file.  A segment (``partitioned=False``) is flat:
    one sorted file per task, the partition column a data column.  An empty
    relation leaves a dir with only ``_SUCCESS``, which every reader, as it
    declares its schema, reads as an empty table."""
    part, keys = LAYOUTS[table]
    w = df.repartition(tasks, part).sortWithinPartitions(*keys).write
    (w.partitionBy(part) if partitioned else w).mode("overwrite").parquet(path)


def read_table(
    spark: SparkSession, index_dir: str, sub: str, manifest: IndexManifest
) -> DataFrame:
    """One base table (docs/postings/termstats), read with its declared
    schema (no inference job)."""
    schema = {
        DOCS_DIR: manifest.docs_schema,
        POSTINGS_DIR: POSTINGS_SCHEMA,
        TERMSTATS_DIR: TERMSTATS_SCHEMA,
    }[sub]
    return spark.read.schema(schema).parquet(os.path.join(index_dir, sub))


# ---------------------------------------------------------------------------
# Deterministic doc_id assignment — scalable (no global single-partition sort)
# ---------------------------------------------------------------------------

# Natural-sort key columns mirroring reference core/file_discovery.py:97-112:
# (first integer embedded in the filename, then the name); we order globally
# by (repo, dirname, natural_int, filename, path) — the oracle fixture
# inserts rows in the identical order so SQLite rowid == doc_id.
_BIG = 2**62


def _order_cols():
    return [
        F.col("repo"),
        F.col("_dirname"),
        F.col("_natint"),
        F.col("filename"),
        F.col("path"),
    ]


def with_derived_columns(corpus: DataFrame) -> DataFrame:
    """Add full_path / filename / natural-sort helper columns."""
    return (
        corpus.withColumn("full_path", F.concat_ws("/", "repo", "path"))
        .withColumn("filename", F.element_at(F.split(F.col("path"), "/"), -1))
        .withColumn(
            "_dirname", F.regexp_replace(F.col("path"), r"[^/]+$", "")
        )
        .withColumn(
            "_natint",
            F.coalesce(
                F.nullif(
                    F.regexp_extract(F.col("filename"), r"(\d+)", 1), F.lit("")
                ).cast("long"),
                F.lit(_BIG),
            ),
        )
    )


def assign_doc_ids(
    corpus: DataFrame,
    num_partitions: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """``corpus`` with its doc_ids; see ``_assign_doc_ids``."""
    return _assign_doc_ids(corpus, num_partitions, cleanup)[0]


def _assign_doc_ids(
    corpus: DataFrame,
    num_partitions: int | None = None,
    cleanup: list | None = None,
) -> tuple[DataFrame, int]:
    """Deterministic contiguous ``doc_id`` (1-based, FTS5-rowid-like) without
    a driver bottleneck or an extra shuffle:

    1. project the NARROW key columns (repo, path + derived sort helpers) —
       content bytes never enter the range shuffle or the Arrow sockets,
    2. range-partition + sort within partitions (global order across
       ordered partitions); persist the (tiny) sorted keys — on a real
       cluster a staging-parquet write serves the same purpose
       fault-tolerantly,
    3. collect per-partition row COUNTS only, prefix-sum to offsets,
    4. assign ``doc_id = offset[pid] + position`` as a pure JVM expression:
       position within the sorted partition comes from the low 33 bits of
       ``monotonically_increasing_id()`` (documented layout: partition id
       in the high bits, per-partition record index in the low 33), the
       offset from a literal array indexed by ``spark_partition_id()``.
       No window function → no second shuffle, and — unlike the previous
       ``mapInArrow`` assigner — no JVM↔Python boundary at all (guide §4:
       the id column was the only thing Python created; the Arrow
       round-trip and the Python-worker pool spin-up were pure overhead),
    5. hash-join (repo, path, doc_id, derived cols) back to the full corpus
       — a plain JVM shuffle join that scales with cores/executors.

    Returns the joined frame and its row count (the counts job's sum).
    """
    keys, total, persisted = _narrow_ids(
        with_derived_columns(corpus.select("repo", "path")), num_partitions
    )
    # the sorted-keys frame stays persisted (determinism under recompute);
    # callers pass `cleanup` and unpersist once their writes materialize —
    # otherwise every build/update pins one cached key table for the life
    # of the session (code-review r05)
    if cleanup is not None:
        cleanup.append(persisted)
    # The ids table is narrow (repo, path, doc_id); broadcast it while it
    # fits so the full-width corpus (content!) never shuffles.  Past the
    # threshold a plain shuffle join takes over — the 10^12-file regime.
    if total <= BROADCAST_IDS_THRESHOLD:
        keys = F.broadcast(keys)
    return corpus.join(keys, ["repo", "path"]), total


def _narrow_ids(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    cols = _order_cols()
    if num_partitions:
        df = df.repartitionByRange(num_partitions, *cols)
    else:
        df = df.repartitionByRange(*cols)
    from pyspark import StorageLevel

    df = (
        df.sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .drop("_dirname", "_natint")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the counts aggregation doubles as the cache materialization — one job,
    # not checkpoint + count.  (Partition placement stays deterministic under
    # recompute: the range shuffle's map output is reused, not resampled.)
    counts = {
        r["_pid"]: r["cnt"]
        for r in df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    # dense offsets array indexed by partition id (empty partitions get the
    # running offset too — they contribute no rows, the value is unused)
    n_parts = (max(counts) + 1) if counts else 0
    offsets, acc = [0] * n_parts, 0
    for pid in range(n_parts):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    # Pure-JVM id assignment over the sorted partitions (stays inside
    # whole-stage codegen; no Python workers, no Arrow transpose):
    # monotonically_increasing_id() is documented as (partitionId << 33) +
    # record-index-within-partition, so the low 33 bits are exactly the
    # 0-based position in the sorted partition — deterministic here because
    # the input is the persisted range-shuffled sort (same property the
    # Arrow assigner relied on).  A single partition can't exceed 2^33 rows
    # (Spark's own shuffle limit is far lower).
    off_arr = (
        F.array(*[F.lit(o) for o in offsets]) if offsets else F.array(F.lit(0))
    )
    out = df.withColumn(
        "doc_id",
        (
            F.element_at(off_arr, F.col("_pid") + 1)
            + F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
            + 1
        ).cast("long"),
    ).drop("_pid")
    return (
        out,
        acc,
        df,  # the persisted frame, for the caller's deferred unpersist
    )


def sized_parallelism(
    spark, n_rows: int | None, rows_per_task: int = 2048
) -> int:
    """THE fan-out rule of the build and the update path (guide §2): one
    task per ``rows_per_task`` rows, capped at defaultParallelism, so a
    few hundred docs do not fan out into defaultParallelism near-empty
    tasks (each pays Python-worker handshake + conf deserialization),
    while a million-doc corpus or delta still uses the full core count.
    ``None`` (unknown size) keeps full parallelism."""
    full = spark.sparkContext.defaultParallelism
    if n_rows is None:
        return full
    return max(1, min(full, n_rows // rows_per_task + 1))


# ---------------------------------------------------------------------------
# Checkpointed build stages (resumable; FIXTURES.md §7)
# ---------------------------------------------------------------------------


class BuildCheckpoints:
    """Per-stage lineage + metrics checkpoints.  A stage whose checkpoint
    records status=complete in this engine's index format is skipped on
    re-run (resume); a checkpoint from another format re-runs its stage.  Generalizes the
    reference's per-batch ``indexing_progress`` JSON resume
    (reference ``vector/indexer.py:221-263``, ``sqlite_storage.py:791-818``)
    to distributed partitioned writes.
    """

    def __init__(self, index_dir: str):
        self.dir = os.path.join(index_dir, CHECKPOINT_DIR)
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, f"stage_{stage}.json")

    def is_complete(self, stage: str) -> bool:
        p = self._path(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            j = json.load(f)
        return (j.get("status"), j.get("format")) == (
            "complete", INDEX_FORMAT_VERSION
        )

    def mark_complete(self, stage: str, metrics: dict) -> None:
        tmp = self._path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "status": "complete",
                    "format": INDEX_FORMAT_VERSION,
                    "stage": stage,
                    **metrics,
                },
                f,
                indent=2,
            )
        os.replace(tmp, self._path(stage))

    def read(self, stage: str) -> dict:
        with open(self._path(stage)) as f:
            return json.load(f)


# extension → MIME map (reference derives mime per file at ingest via
# mimetypes.guess_type with an application/octet-stream fallback,
# ``vector/indexer.py:80-99``; the core text indexer stores text/plain,
# ``core/indexer.py:86``).  Kept as data so the Spark Column expression and
# the DuckDB oracle CASE are generated from ONE source (surface.mime_counts).
MIME_BY_EXT = {
    "py": "text/x-python",
    "java": "text/x-java",
    "scala": "text/x-scala",
    "go": "text/x-go",
    "rs": "text/x-rust",
    "c": "text/x-c",
    "h": "text/x-c",
    "cpp": "text/x-c++",
    "js": "text/javascript",
    "ts": "text/typescript",
    "json": "application/json",
    "yaml": "application/yaml",
    "yml": "application/yaml",
    "xml": "application/xml",
    "html": "text/html",
    "css": "text/css",
    "md": "text/markdown",
    "sql": "application/sql",
    "sh": "application/x-sh",
    "toml": "application/toml",
    "csv": "text/csv",
    "txt": "text/plain",
    "png": "image/png",
    "jpg": "image/jpeg",
    "gif": "image/gif",
    "pdf": "application/pdf",
}
MIME_FALLBACK = "text/plain"  # text corpus: reference core/indexer.py:86


def mime_from_path(path_col) -> F.Column:
    """MIME type from the path's extension — pure Column expression: ONE
    lower+regexp_extract per row and a literal-map GetMapValue lookup.
    (A chained CASE would inline the regexp into every branch condition —
    27 regex evaluations per row, measured as +30% on the docs stage.)"""
    ext = F.lower(F.regexp_extract(path_col, r"\.([A-Za-z0-9]+)$", 1))
    mapping = F.create_map(
        *[F.lit(x) for pair in MIME_BY_EXT.items() for x in pair]
    )
    return F.coalesce(mapping[ext], F.lit(MIME_FALLBACK))


def mime_case_sql(path_sql: str) -> str:
    """The DuckDB twin of ``mime_from_path`` — generated from the same map."""
    ext = f"lower(regexp_extract({path_sql}, '\\.([A-Za-z0-9]+)$', 1))"
    whens = "\n".join(
        f"WHEN '{e}' THEN '{m}'" for e, m in MIME_BY_EXT.items()
    )
    return f"CASE {ext} {whens} ELSE '{MIME_FALLBACK}' END"


def docs_derived_columns(ids: DataFrame) -> DataFrame:
    """Content-derived columns of the docs table (sha256/md5/size/mime/
    timestamp) — shared by the full build and the incremental delta path."""
    return (
        ids.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        .withColumn("content_md5", F.md5(F.col("content")))
        .withColumn("size", F.length("content").cast("long"))
        .withColumn("mime_type", mime_from_path(F.col("path")))
        .withColumn("indexed_at", F.current_timestamp())
    )


def _fts_document() -> F.Column:
    """The FTS5 'document' = all three indexed columns at weight 1.0
    (path, filename, content — verified in SURVEY.md §2.4: tf counts hits in
    all three and dl sums all three).  A single space-joined concat
    tokenizes identically to tokenizing the columns separately, so one
    vectorized pass suffices.
    """
    return F.concat_ws(" ", F.col("full_path"), F.col("filename"), F.col("content"))


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    name: str = "default",
    *,
    tokenizer_profile: str = "unicode61",
    params: BM25Params | None = None,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    num_partitions: int | None = None,
    resume: bool = False,
    fail_after_stage: str | None = None,
    source: dict | None = None,
    validate_unique_paths: bool = False,
) -> IndexManifest:
    """Build (or resume building) a BM25 index at ``index_dir``.

    ``fail_after_stage`` injects a failure for the resume test fixture.
    ``validate_unique_paths`` raises ValueError when (repo, path) is not
    unique — the reference enforces path uniqueness via its SQLite UNIQUE
    constraint (``sqlite_storage.py:183``); here it is an optional check
    (one extra aggregate) because the common ingestion path guarantees it.
    """
    if validate_unique_paths:
        dup = (
            corpus.groupBy("repo", "path")
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            r = dup[0]
            raise ValueError(
                f"Duplicate document path in corpus: {r['repo']}/{r['path']}"
            )
    # serialize with any concurrent updater/compactor on the same dir —
    # create --overwrite racing an update would interleave their staged
    # writes (delta_store.write_lock; reentrant, advisory, cross-process)
    from bm25_index_tool_spark.delta_store import write_lock

    with write_lock(index_dir):
        return _build(
            spark,
            corpus,
            index_dir,
            name=name,
            tokenizer_profile=tokenizer_profile,
            params=params,
            num_buckets=num_buckets,
            num_partitions=num_partitions,
            resume=resume,
            fail_after_stage=fail_after_stage,
            source=source,
        )


def _build(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    *,
    name: str,
    tokenizer_profile: str,
    params: BM25Params | None,
    num_buckets: int,
    num_partitions: int | None,
    resume: bool,
    fail_after_stage: str | None,
    source: dict | None,
) -> IndexManifest:
    params = params or BM25Params()
    if not resume and os.path.exists(index_dir):
        shutil.rmtree(index_dir)
    elif os.path.exists(os.path.join(index_dir, MANIFEST)):
        load_manifest(index_dir)  # a resume refuses another format up front
    os.makedirs(index_dir, exist_ok=True)
    ckpt = BuildCheckpoints(index_dir)
    tokenizer_for(tokenizer_profile)  # refuses an unknown profile, pre-write

    docs_path = os.path.join(index_dir, DOCS_DIR)
    postings_path = os.path.join(index_dir, POSTINGS_DIR)
    termstats_path = os.path.join(index_dir, TERMSTATS_DIR)

    def _stage(stage: str, fn) -> dict:
        if ckpt.is_complete(stage):
            return ckpt.read(stage)
        t0 = time.monotonic()
        metrics = fn()
        metrics["duration_sec"] = round(time.monotonic() - t0, 4)
        ckpt.mark_complete(stage, metrics)
        if fail_after_stage == stage:
            raise RuntimeError(f"injected failure after stage {stage}")
        return ckpt.read(stage)

    def _tasks(n_docs: int) -> int:
        """Fan-out of the docs, postings and termstats writes: sized to the
        corpus (an explicit ``num_partitions`` overrides), and never more
        tasks than partition dirs — each dir is written by one task, so it
        holds one file."""
        return min(num_buckets, num_partitions or sized_parallelism(spark, n_docs))

    # -- stage 1: docs table with deterministic doc_id + invariants ---------
    # The docs table is partitioned by doc_pt = pmod(doc_id, num_buckets):
    # incremental updates rewrite only the partitions containing changed
    # doc_ids (IO ∝ delta, not corpus), and point lookups by doc_id prune
    # to one partition.
    def _docs() -> dict:
        t_ids0 = time.monotonic()
        _id_cache: list = []
        ids, n_ids = _assign_doc_ids(corpus, num_partitions, cleanup=_id_cache)
        # sub-timing: assign_doc_ids runs the range-sample + counts jobs
        # eagerly; everything after is the derived-column + write job
        ids_sec = round(time.monotonic() - t_ids0, 4)
        tasks = _tasks(n_ids)
        # The content crosses the network once: the writer's doc_pt
        # exchange, sized to the corpus.  doc_pt as int, the type a
        # partitioned read gives it; it stays the last column.
        out = docs_derived_columns(
            ids.withColumn(
                "doc_pt", F.pmod(F.col("doc_id"), F.lit(num_buckets)).cast("int")
            )
        )
        out = out.select(*[c for c in out.columns if c != "doc_pt"], "doc_pt")
        # Observation: row count rides along with the write — no read-back
        # job and no up-front emptiness probe (isEmpty would re-run the id
        # assignment).
        from pyspark.sql import Observation

        obs = Observation("docs_metrics")
        write_table(
            out.observe(obs, F.count(F.lit(1)).alias("rows")),
            docs_path, DOCS_DIR, tasks,
        )
        rows = obs.get["rows"]
        for _p in _id_cache:  # docs parquet is written; key cache done
            _p.unpersist()
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in out.schema
        )
        return {"rows": rows, "ids_sec": ids_sec, "schema": schema, "tasks": tasks}

    m_docs = _stage("docs", _docs)
    num_docs = m_docs["rows"]
    tasks = _tasks(num_docs)
    docs = spark.read.schema(m_docs["schema"]).parquet(docs_path)

    # -- stages 2-3: ONE tokenize pass; termstats derive from the postings
    # parquet (a cheap columnar term scan) rather than a persisted tf
    # relation — caching the full (doc_id, term, tf, dl) relation costs
    # more than the read-back saves (measured at local[2]).  The tokenizer
    # (the dominant CPU cost) still runs exactly once over the corpus.
    from bm25_index_tool_spark.arrow_tokenize import doc_term_freqs

    # The tokenizer reads the docs base as it lies: each doc is one row, and
    # the scan's file packing already sizes its splits by bytes (about
    # defaultParallelism splits for a small base, more for a large one), so
    # a doc_id shuffle in front of it would only move the content again.
    # Tokenize + per-doc tf entirely in Arrow C++ (arrow_tokenize.py): each
    # doc lives in one row, so (doc_id, term, tf) leaves the map already
    # aggregated — no JVM explode, no 10^2-tokens-per-doc shuffle blow-up.
    # (The pandas-UDF tokenizer remains the semantic reference; differential
    # equality is asserted in tests/test_arrow_tokenize.py.)  Every profile
    # tokenizer_for accepts has an Arrow path.  dl arrives denormalized from
    # the Arrow worker (each doc is one input row → its total token count is
    # complete in-batch): postings need NO doc_id shuffle downstream of it.
    tfs = doc_term_freqs(docs, _fts_document(), profile=tokenizer_profile)

    def _postings() -> dict:
        # dl is already denormalized in tfs (computed inside the tokenize
        # worker — zero extra shuffle; the former separate doclens stage
        # dominated low-parallelism builds, VERDICT r01 #5).  No persist, no
        # Observation on this hot write: tokenizer output flows straight
        # into the bucket exchange → sort → write.
        post = tfs.withColumn(
            "bucket", F.pmod(F.hash("term"), F.lit(num_buckets))
        )
        t_w0 = time.monotonic()
        write_table(post, postings_path, POSTINGS_DIR, tasks)
        write_sec = round(time.monotonic() - t_w0, 4)
        # partition-column-only scan: row counts come from parquet metadata
        per_bucket = {
            str(r["bucket"]): r["cnt"]
            for r in spark.read.schema(POSTINGS_SCHEMA)
            .parquet(postings_path)
            .groupBy("bucket")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        return {
            "rows": sum(per_bucket.values()),
            "per_bucket_rows": per_bucket,
            "write_sec": write_sec,
            "tasks": tasks,
        }

    _stage("postings", _postings)

    def _termstats() -> dict:
        # df and Σtf per term derive from the WRITTEN postings — a narrow
        # (term, tf) columnar scan with map-side partial aggregation; the
        # total-token sum for avgdl rides along as an Observation.  This
        # replaces a second pass over a persisted 10^8-row tf relation
        # (cache write + memory pressure cost more than this scan).
        from pyspark.sql import Observation

        src = spark.read.schema(POSTINGS_SCHEMA).parquet(postings_path)
        stats = (
            src.groupBy("term")
            .agg(
                F.count("*").cast("long").alias("df"),
                F.sum("tf").cast("long").alias("_ttf"),
            )
            .withColumn("bucket", F.pmod(F.hash("term"), F.lit(num_buckets)))
        )
        obs = Observation("termstats_metrics")
        write_table(
            stats.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum("_ttf").alias("total_tokens"),
            ).select("term", "df", "bucket"),
            termstats_path, TERMSTATS_DIR, tasks,
        )
        got = obs.get
        return {
            "rows": got["rows"],
            "total_tokens": int(got["total_tokens"] or 0),
            "tasks": tasks,
        }

    m_ts = _stage("termstats", _termstats)
    # FTS5 avgdl = total_tokens / nRow over ALL docs — zero-token documents
    # count in the denominator (they are rows in the FTS table with dl=0).
    # A mean over only docs-with-postings would diverge on corpora with
    # empty or punctuation-only files (ADVICE r01).
    avgdl = m_ts["total_tokens"] / num_docs if num_docs else 0.0

    manifest = IndexManifest(
        name=name,
        num_docs=int(num_docs),
        avgdl=float(avgdl),
        num_buckets=num_buckets,
        tokenizer_profile=tokenizer_profile,
        params=params,
        created_at=time.strftime("%Y-%m-%dT%H:%M:%S"),
        source=source or {},
        total_tokens=int(m_ts["total_tokens"]),
        # assign_doc_ids is 1-based contiguous → first free id is N+1
        next_doc_id=int(num_docs) + 1,
        build_id=uuid.uuid4().hex,
        docs_schema=m_docs["schema"],
    )
    return save_manifest(index_dir, manifest)
