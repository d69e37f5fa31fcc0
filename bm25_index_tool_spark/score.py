"""Top-k BM25 scoring — one SQL statement per query (SURVEY.md §2.4 plan 1).

Replaces the reference's single SQL statement
(reference ``storage/sqlite_storage.py:663-671``)::

    SELECT d.id, d.path, d.filename, d.content, -bm25(documents_fts) AS score
    FROM documents_fts f JOIN documents d ON f.rowid = d.id
    WHERE documents_fts MATCH ?      -- implicit AND of query tokens
    ORDER BY bm25(documents_fts) LIMIT ?

with one parameterised ``spark.sql`` statement over the live index frames
(``_score_statement``) whose physical shape Catalyst compiles to:

    bucket-pruned parquet scan of postings (only the term-hash buckets the
    query touches — explicit IN predicate, see murmur.py) with the query
    terms as a pushed filter
      → broadcast join with the ≤|terms|-row termstats slice
      → per-(term,doc) partial BM25 (pure expressions, whole-stage
        codegen; dl is denormalized in postings so no N-row join)
      → hash-agg by doc_id: sum(partial), count(*)
      → conjunctive filter  count == |distinct query terms|
      → TakeOrderedAndProject(score DESC, doc_id ASC, limit k)
      → broadcast join of the ≤k winners back to the docs table
      → TakeOrderedAndProject(score DESC, doc_id ASC, limit k)

The final sort is a top-k too, so sorting the ≤k result rows costs no
range-partitioning Exchange and no sampling job.  A query with ONE
distinct term skips the aggregation and its filter: the live postings
view holds one row per (term, doc_id), so its scores are a projection of
partial × multiplicity, and the first top-k runs straight over the pruned
scan with no shuffle at all.

Exact FTS5 ``bm25()`` semantics (verified empirically, SURVEY.md §2.4):
k1=1.2 b=0.75; idf = ln((N−df+0.5)/(df+0.5)) clamped to 1e-6 when ≤ 0;
tf and dl span all three FTS columns; ties break on doc_id ascending.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import delta_store as DS
from bm25_index_tool_spark.murmur import term_bucket
from bm25_index_tool_spark.tokenize import tokenize_fts5_query

IDF_EPSILON = 1e-6  # FTS5 clamps non-positive idf to 1e-6 (SURVEY.md §2.4)

# Batch scoring switches from plan-literal query metadata to a broadcast
# join past this many (query, term) entries — literals must never scale
# with input size (the r04 IVF-centroid-literal lesson).
_BATCH_LITERAL_MAX = 1024


@dataclass
class LoadedIndex:
    """Handle to an on-disk index: manifest + lazily-read DataFrames."""

    index_dir: str
    _manifest: B.IndexManifest
    spark: SparkSession

    _cached: dict | None = None
    _frames: dict = field(default_factory=dict)
    _version: tuple | None = None

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "LoadedIndex":
        m = B.load_manifest(index_dir)
        return cls(
            index_dir=index_dir,
            _manifest=m,
            spark=spark,
            _version=DS.index_token(index_dir, spark, m),
        )

    @property
    def manifest(self) -> B.IndexManifest:
        """Manifest of the LIVE committed index version — accessing it
        revalidates the handle, because N/avgdl/k1/b enter every BM25
        score and are typically captured before the first table read."""
        self._revalidate()
        return self._manifest

    def _revalidate(self) -> None:
        """Drop memoized/preloaded frames (and take the new manifest) if
        the index was committed to since this handle last read it.  The
        token is delta_store.index_token, so the check costs one manifest
        read, and a handle held across an in-process update/compaction
        (e.g. bench.py's) always serves the live committed index instead
        of a pinned pre-swap file listing (or silently stale N/avgdl)."""
        m = B.load_manifest(self.index_dir)
        ver = DS.index_token(self.index_dir, self.spark, m)
        if ver == self._version:
            return
        self.unload()
        self._frames.clear()
        self._manifest = m
        self._version = ver

    def _read(self, sub: str) -> DataFrame:
        """Live view of one index table: the base parquet dir, composed
        with any LSM segments + tombstones from append updates
        (delta_store.py) — bucket/doc_pt pruning pushes through the union
        and the broadcast anti-join, so downstream plans keep their shape.

        Every read declares its schema (no footer-inference job), and the
        composed DataFrame is memoized per handle, so its file listing is
        resolved once, not per query.  The memo is guarded by
        _revalidate(): the on-disk file set for one committed generation is
        immutable, and any commit moves the generation.  A scan racing a
        concurrent writer's full-compaction base swap is caught and
        retried by ``client._run_with_reopen``."""
        self._revalidate()
        if self._cached is not None and sub in self._cached:
            return self._cached[sub]
        if sub not in self._frames:
            base = B.read_table(self.spark, self.index_dir, sub, self._manifest)
            view = {
                B.DOCS_DIR: DS.docs_view,
                B.POSTINGS_DIR: DS.postings_view,
                B.TERMSTATS_DIR: DS.termstats_view,
            }[sub]
            self._frames[sub] = view(self.spark, self.index_dir, base)
        return self._frames[sub]

    def blocks(self) -> DataFrame:
        """Block-store frame, memoized like the other tables so repeated
        WAND queries skip the per-query parquet file listing (~80 ms at 32
        shards, growing with shard count).  build_blocks and every update
        that rewrites blocks end with a manifest save, so the generation
        guards this memo too."""
        import os

        from bm25_index_tool_spark.blocks import SHARDED_BLOCKS_SCHEMA

        self._revalidate()
        if "_blocks" not in self._frames:
            bp = os.path.join(self.index_dir, B.BLOCKS_DIR)
            if not os.path.exists(bp):
                raise ValueError(
                    f"Block engine store not built for index at {self.index_dir}; "
                    "run blocks.build_blocks (or create_index(build_block_engine=True))"
                )
            self._frames["_blocks"] = self.spark.read.schema(
                SHARDED_BLOCKS_SCHEMA
            ).parquet(bp)
        return self._frames["_blocks"]

    def docs(self) -> DataFrame:
        return self._read(B.DOCS_DIR)

    def postings(self) -> DataFrame:
        return self._read(B.POSTINGS_DIR)

    def termstats(self) -> DataFrame:
        return self._read(B.TERMSTATS_DIR)

    def doclens(self) -> DataFrame:
        """(doc_id, dl) for EVERY document — FTS5 nRow semantics: zero-token
        docs appear with dl=0 (ADVICE r02).  dl for docs with postings is a
        projection of postings (denormalized there; no separate doclens
        table); the docs table fills the dl=0 rows."""
        nonzero = (
            self.postings()
            .groupBy("doc_id")
            .agg(F.max("dl").cast("int").alias("dl"))
        )
        return (
            self.docs()
            .select("doc_id")
            .join(nonzero, "doc_id", "left")
            .withColumn("dl", F.coalesce("dl", F.lit(0)).cast("int"))
        )

    def preload(self, include_docs: bool = False) -> "LoadedIndex":
        """Pin postings/termstats (optionally docs) in executor cache — the
        warm-query path (reference's in-process index stays resident; here
        the analogue is Spark's columnar cache).  Repeated queries skip the
        parquet scan entirely.

        Only worth it while the deserialized columnar cache FITS in storage
        memory: the cache expands far beyond the zstd parquet footprint, and
        once it spills, cached scans lose to the cold path's bucket-pruned
        parquet read (measured at 5.12M files / 1.2 GB index: warm p50 14.9s
        vs cold 6.6s — BENCH/r04_scale_5m.json; at 40k files warm ≈ cold).
        At cluster scale prefer the cold path + OS page cache for large
        indexes; preload is for the many-small-indexes regime the reference
        tool actually serves."""
        subs = [B.POSTINGS_DIR, B.TERMSTATS_DIR] + (
            [B.DOCS_DIR] if include_docs else []
        )
        # build locally and install at the end: _read -> _revalidate may
        # reset _cached to None mid-loop if a commit lands during preload
        # (assigning into self._cached directly would TypeError).  If the
        # version token moved while materializing, the dict would mix two
        # index versions — retry against the newly-committed state; a
        # commit after installation is handled by the next read's
        # revalidation.
        for _attempt in range(3):
            self._revalidate()
            v0 = self._version
            cached: dict = {}
            for sub in subs:
                df = self._read(sub).cache()  # live view (incl. segments)
                df.count()  # materialize
                cached[sub] = df
            if DS.index_token(self.index_dir, self.spark) == v0:
                # a prior preload's frames this call didn't re-request
                # (e.g. a docs cache) must not stay persisted
                # unreachably; frames re-requested at the same version
                # are the SAME objects (served back through _read's
                # cache check), so unpersist only what was dropped
                for old_df in (self._cached or {}).values():
                    if not any(old_df is df for df in cached.values()):
                        old_df.unpersist()
                self._cached = cached
                return self
            for df in cached.values():
                df.unpersist()
        raise RuntimeError(
            "index is being committed to faster than preload can "
            f"materialize it ({self.index_dir}); retry when writes settle"
        )

    def unload(self) -> None:
        for df in (self._cached or {}).values():
            df.unpersist()
        self._cached = None


def _dbl(x: float) -> str:
    """Exact SQL double literal: ``repr`` round-trips every float, so the
    SQL text carries bit-for-bit the constant a ``F.lit`` would."""
    return f"{float(x)!r}D"


def idf_sql(df: str, n_docs: int) -> str:
    """FTS5 idf with the 1e-6 clamp for non-positive values, as SQL text
    over the df expression ``df``."""
    raw = f"ln(({_dbl(n_docs)} - {df} + 0.5D) / ({df} + 0.5D))"
    return f"CASE WHEN {raw} <= 0.0D THEN {_dbl(IDF_EPSILON)} ELSE {raw} END"


def bm25_partial_sql(
    tf: str, dl: str, idf: str, k1: float, b: float, avgdl: float
) -> str:
    """THE BM25 formula: per-(term, doc) contribution as SQL text,
    ((idf*tf)*(k1+1))/(tf + k1*((1-b) + b*dl/avgdl)).  Every scorer builds
    from this one text (the single-query statement directly, the batch
    scorer through bm25_partial), and wand._partial mirrors its float
    association."""
    denom = f"{tf} + {_dbl(k1)} * ({_dbl(1.0 - b)} + {_dbl(b)} * {dl} / {_dbl(avgdl)})"
    return f"({idf}) * {tf} * {_dbl(k1 + 1.0)} / ({denom})"


def idf_column(df_col: str, n_docs: int) -> F.Column:
    """idf_sql over the column named ``df_col``."""
    return F.expr(idf_sql(df_col, n_docs))


def bm25_partial(
    tf: str, dl: str, idf: str, k1: float, b: float, avgdl: float
) -> F.Column:
    """bm25_partial_sql over the named columns — a pure Column expression
    that stays inside whole-stage codegen."""
    return F.expr(bm25_partial_sql(tf, dl, idf, k1, b, avgdl))


def doc_pt_sql(doc_id: str, num_buckets: int) -> str:
    """The docs table's partition key of ``doc_id`` in its type (int) —
    the build-side twin of build.py's doc_pt assignment (pmod(doc_id,
    num_buckets)); a mismatch would silently drop winners."""
    return f"CAST(pmod({doc_id}, {int(num_buckets)}) AS int)"


def score_query(
    index: LoadedIndex,
    query: str,
    top_k: int = 10,
    *,
    include_content: bool = True,
) -> DataFrame:
    """Top-k BM25 over one query string; result columns
    (doc_id, path, filename, content_sha256, score[, content]).

    Raises ValueError for a query with no searchable tokens (reference
    ``core/searcher.py:63-68`` behavior).
    """
    tokens = tokenize_fts5_query(query)
    return score_tokens(index, tokens, top_k, include_content=include_content)


def with_winner_doc_pt(topk: DataFrame, num_buckets: int) -> DataFrame:
    """Derive the docs table's partition key on a ≤k-row winners frame:
    joining the broadcast winners on (doc_id, doc_pt) makes Catalyst emit
    DynamicPartitionPruning on the docs scan — the content fetch reads ≤k
    partitions instead of the whole table (VERDICT r04 #5)."""
    return topk.withColumn("doc_pt", F.expr(doc_pt_sql("doc_id", num_buckets)))


def fetch_winner_docs(
    index: LoadedIndex, winners: DataFrame, doc_cols: list[str]
) -> DataFrame:
    """THE winners→docs fetch of the DataFrame scorers (batch, WAND;
    code-review r05: four hand-rolled copies had already started
    diverging): broadcast the ≤k-row winners frame into the docs table,
    joined on (doc_id, doc_pt) so the scan is DynamicPartitionPruning-
    pruned to ≤k partitions.  The single-query statement states the same
    join in SQL.  Returns winners' columns + ``doc_cols`` from the docs
    side."""
    w = with_winner_doc_pt(winners, index.manifest.num_buckets)
    docs = index.docs().select("doc_id", *doc_cols, "doc_pt")
    return F.broadcast(w).join(docs, ["doc_id", "doc_pt"]).drop("doc_pt")


def score_stage_frames(
    index: LoadedIndex, query: str, top_k: int = 10
) -> dict[str, DataFrame]:
    """Diagnostic sub-plans of the scorer for stage attribution (bench.py
    query_stage_*; VERDICT r04 #5), cut from the same statement text.
    Each frame re-runs its upstream when actioned, so interpret timings as
    deltas: ``scored_count`` ≈ postings scan + broadcast join (+ the
    conjunctive agg of a multi-term query) over ALL matches; ``topk`` −
    that ≈ global top-k;
    ``full`` − ``topk`` ≈ the winners/docs fetch."""
    tokens = tokenize_fts5_query(query)

    def stage(name: str) -> DataFrame:
        return _score_statement(index, tokens, top_k, False, stage=name)

    return {
        "scored_count": stage("scored").agg(F.count("*").alias("n_matches")),
        "topk": stage("topk"),
        "full": stage("result"),
    }


def score_tokens(
    index: LoadedIndex,
    tokens: list[str],
    top_k: int = 10,
    *,
    include_content: bool = True,
) -> DataFrame:
    return _score_statement(index, tokens, top_k, include_content)


def _score_statement(
    index: LoadedIndex,
    tokens: list[str],
    top_k: int,
    include_content: bool,
    *,
    stage: str = "result",
) -> DataFrame:
    """The single-query scorer as ONE parameterised ``spark.sql``
    statement, whose physical shape Catalyst compiles to the plan in the
    module docstring.  The live index frames (segments and tombstones
    included) go in as DataFrame arguments and every query term as a
    ``:tN`` parameter marker — never formatted into the text.  Building it
    costs a handful of py4j round trips instead of one per Column
    operator.  ``stage`` cuts the statement after its ``scored`` or
    ``topk`` step (score_stage_frames)."""
    if not tokens:
        raise ValueError("Query produced no searchable tokens")
    m = index.manifest
    k1, b = m.params.k1, m.params.b

    from collections import Counter

    # duplicate-token multiplicity: FTS5 'apple apple' sums the term's
    # partial twice
    tok_counts = Counter(tokens)
    terms = sorted(tok_counts)
    args = {f"t{i}": t for i, t in enumerate(terms)}
    markers = ", ".join(f":{p}" for p in args)
    q_mult = " ".join(
        f"WHEN :t{i} THEN {tok_counts[t]}" for i, t in enumerate(terms)
    )
    # Explicit bucket-pruning predicate (Catalyst can't infer it, SURVEY
    # §4.3); the term predicate reaches both scans as a pushed filter, so
    # the broadcast termstats side holds ≤|terms| rows
    buckets = ", ".join(
        str(x) for x in sorted({term_bucket(t, m.num_buckets) for t in terms})
    )
    partial = bm25_partial_sql(
        "p.tf", "p.dl", idf_sql("s.df", m.num_docs), k1, b, m.avgdl
    )
    score = f"({partial}) * (CASE p.term {q_mult} END)"
    group = ""
    # one term needs no aggregation only because the live postings view
    # holds one row per (term, doc_id); the conjunctive count relies on it
    # too (tests/test_score_plan.py)
    if len(terms) > 1:
        score = f"sum({score})"
        group = f"\n  GROUP BY p.doc_id\n  HAVING count(*) = {len(terms)}"
    text = f"""
WITH scored AS (
  SELECT /*+ BROADCAST(s) */ p.doc_id,
         {score} AS score
  FROM {{post}} p
  JOIN (SELECT term, df FROM {{stats}}
        WHERE bucket IN ({buckets}) AND term IN ({markers})) s
    ON p.term = s.term
  WHERE p.bucket IN ({buckets}) AND p.term IN ({markers}){group}
),
topk AS (
  SELECT doc_id, score FROM scored
  ORDER BY score DESC, doc_id ASC LIMIT {int(top_k)}
)
"""
    docs = index.docs()
    if stage != "result":
        text += f"SELECT * FROM {stage}"
    else:
        # broadcast the ≤k winners into docs on (doc_id, doc_pt): Catalyst
        # emits DynamicPartitionPruning on the docs scan, so the content
        # fetch reads ≤k partitions (VERDICT r04 #5)
        pt = doc_pt_sql("doc_id", m.num_buckets)
        content = ", d.content" if include_content else ""
        text += f"""SELECT /*+ BROADCAST(w) */ w.doc_id, d.full_path AS path,
       d.filename, d.content_sha256, w.score{content}
FROM (SELECT doc_id, score, {pt} AS doc_pt FROM topk) w
JOIN {{docs}} d ON w.doc_id = d.doc_id AND w.doc_pt = d.doc_pt
ORDER BY w.score DESC, w.doc_id ASC LIMIT {int(top_k)}"""
    return index.spark.sql(
        text,
        args=args,
        post=index.postings(),
        stats=index.termstats(),
        docs=docs,
    )


def score_query_batch(
    index: LoadedIndex,
    queries: list[str],
    top_k: int = 10,
) -> DataFrame:
    """Set-at-a-time batch scoring (SURVEY.md §2.9 C3): ALL queries join the
    index in ONE pass — the idiomatic-Spark replacement for the reference's
    ``ThreadPoolExecutor`` per-query fan-out
    (reference ``commands/batch_query.py:311-332``).

    Result: (query_id, doc_id, path, score, rank) — deterministic order by
    (query_id, rank), unlike the reference's parallel completion-order JSONL.
    Queries that tokenize to nothing yield no rows (reference maps failures
    to empty results, ``batch_query.py:90-92``).
    """
    spark = index.spark
    m = index.manifest
    k1, b = m.params.k1, m.params.b

    from collections import Counter

    rows = []
    buckets: set[int] = set()
    for qid, q in enumerate(queries):
        try:
            toks = tokenize_fts5_query(q)
        except ValueError:
            continue
        c = Counter(toks)
        for t, mult in c.items():
            rows.append((qid, q, t, int(mult), len(c)))
            buckets.add(term_bucket(t, m.num_buckets))
    if not rows:
        return spark.createDataFrame(
            [], "query_id int, query string, doc_id long, path string, score double, rank int"
        )

    all_terms = sorted({r[2] for r in rows})
    post = (
        index.postings()
        .where(F.col("bucket").isin(sorted(buckets)))
        # term pre-filter: pushes to the postings scan and keeps the
        # qterms probe side to matching rows only
        .where(F.col("term").isin(all_terms))
    )
    stats = (
        index.termstats()
        .where(F.col("bucket").isin(sorted(buckets)))
        .where(F.col("term").isin(all_terms))
    )

    # The per-term query metadata is driver literals, exactly like the
    # single-query scorer's q_mult map: for interactive-sized batches a
    # literal term -> array<struct<query_id, q_mult, n_terms>> map +
    # explode replaces the createDataFrame + BroadcastExchange (and its
    # build job), and the aggregation no longer carries the full query
    # STRING through the shuffle (query_id rejoins its text after top-k
    # via a second literal map).  Measured identical rows and 4.5 -> 2.0 s
    # on the cold bench-shaped batch (the broadcast machinery was the only
    # plan fragment the single queries hadn't already JIT-compiled).
    # Bounded: past _BATCH_LITERAL_MAX qterm entries the plan would grow
    # with the batch (the r04 IVF-literal scale trap), so large batches
    # keep the broadcast join.
    if len(rows) <= _BATCH_LITERAL_MAX:
        by_term: dict[str, list] = {}
        for qid, _q, t, mult, n_terms in rows:
            by_term.setdefault(t, []).append((qid, mult, n_terms))
        term_map = F.create_map(
            *[
                x
                for t in all_terms
                for x in (
                    F.lit(t),
                    F.array(
                        *[
                            F.struct(
                                F.lit(qid).alias("query_id"),
                                F.lit(mult).alias("q_mult"),
                                F.lit(nt).alias("n_terms"),
                            )
                            for qid, mult, nt in by_term[t]
                        ]
                    ),
                )
            ]
        )
        qid_to_query = {r[0]: r[1] for r in rows}
        query_map = F.create_map(
            *[
                x
                for qid in sorted(qid_to_query)
                for x in (F.lit(qid), F.lit(qid_to_query[qid]))
            ]
        )
        per_term = post.withColumn(
            "_q", F.explode(term_map[F.col("term")])
        ).select(
            "term", "doc_id", "tf", "dl",
            F.col("_q.query_id").alias("query_id"),
            F.col("_q.q_mult").alias("q_mult"),
            F.col("_q.n_terms").alias("n_terms"),
        )
        query_col = query_map[F.col("query_id")].alias("query")
    else:
        qterms = spark.createDataFrame(
            [(r[0], r[2], r[3], r[4]) for r in rows],
            "query_id int, term string, q_mult int, n_terms int",
        )
        qmeta = spark.createDataFrame(
            sorted({(r[0], r[1]) for r in rows}), "query_id int, query string"
        )
        per_term = post.join(F.broadcast(qterms), "term")
        query_col = None

    per_term = (
        per_term.join(F.broadcast(stats.select("term", "df")), "term")
        .withColumn("idf", idf_column("df", m.num_docs))
        .withColumn(
            "partial",
            bm25_partial("tf", "dl", "idf", k1, b, m.avgdl) * F.col("q_mult"),
        )
    )
    scored = (
        per_term.groupBy("query_id", "n_terms", "doc_id")
        .agg(F.sum("partial").alias("score"), F.count("*").alias("_nt"))
        .where(F.col("_nt") == F.col("n_terms"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_k
    )
    if query_col is not None:
        topk = topk.select("query_id", query_col, "doc_id", "score", "rank")
    else:
        # ≤ n_queries rows at this point — broadcast the tiny text map in
        topk = topk.join(F.broadcast(qmeta), "query_id").select(
            "query_id", "query", "doc_id", "score", "rank"
        )
    # fetch_winner_docs broadcasts the ≤ n_queries×k winners (VERDICT r02
    # #5: pre-AQE stats on a window output are unknown — an unhinted miss
    # shuffles the full docs table) and DPP-prunes the docs scan
    return (
        fetch_winner_docs(index, topk, ["full_path"])
        .withColumnRenamed("full_path", "path")
        .select("query_id", "query", "doc_id", "path", "score", "rank")
        .orderBy("query_id", "rank")
    )
