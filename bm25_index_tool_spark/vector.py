"""Vector / semantic search surface (SURVEY.md §2 T4 + J2; VERDICT r01 #5).

Reference semantics re-expressed Spark-first:

* **Word-window chunker** (T4, reference ``vector/chunking.py:161-282``):
  ``words = text.split()``; windows of ``chunk_size`` words advancing by
  ``chunk_size − chunk_overlap``; iteration stops once a window reaches the
  end (the reference's ``break if end >= len(words)``), so the final chunk
  can be shorter and no empty windows are emitted.  Pure Column
  expressions: split → sequence of window starts → transform/slice →
  explode.  No UDF.
* **Character-limit chunker** (reference ``vector/chunking.py:286-400``):
  chunks longer than ``max_chars`` are truncated at the last word boundary
  within the limit (hard truncation when a single word exceeds it).
* **Chunk-level semantic search** (J2 + reference
  ``vector/searcher.py:40-150``): query vector vs chunk embeddings —
  fetch ``top_k*3`` best chunks, group by document keeping the best
  chunk's score (per-doc max dedupe), order by score desc, limit
  ``top_k``.  The over-fetch quirk is replicated: a query whose top-3k
  chunks all hit few documents can return fewer than ``top_k`` docs.

The reference embeds with AWS Bedrock (out of scope here, as in round 1's
SURVEY §7 declaration).  ``fake_embedder`` below is a clearly-marked
DETERMINISTIC STAND-IN (md5-seeded pseudo-vectors) so the chunk→embed→
search plumbing is real and tested end-to-end; production deployments
replace it with a model-serving pandas UDF of the same signature.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

DEFAULT_CHUNK_SIZE = 300
DEFAULT_CHUNK_OVERLAP = 50
FAKE_EMBED_DIM = 32


def chunk_documents(
    df: DataFrame,
    *,
    id_cols: list[str],
    text_col: str = "content",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    max_chars: int | None = None,
) -> DataFrame:
    """``df`` → one row per chunk: id_cols + (chunk_index, chunk_text,
    start_word, end_word, word_count).  Declarative (split / sequence /
    slice / explode) — Catalyst parallelizes per input row, no Python.

    Raises ValueError when overlap >= size (reference ChunkingError,
    ``vector/chunking.py:172-175``)."""
    if chunk_overlap >= chunk_size:
        raise ValueError(
            f"Chunk overlap ({chunk_overlap}) must be less than chunk size ({chunk_size})"
        )
    step = chunk_size - chunk_overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    # text.split() on empty/whitespace-only text yields [] → no chunks;
    # Spark's split('') yields [''] — normalize that away
    words = F.when(
        (F.col(text_col).isNull()) | (F.trim(F.col(text_col)) == ""),
        F.array().cast("array<string>"),
    ).otherwise(words)
    n = F.size(words)
    # number of windows: 1 if n <= size else 1 + ceil((n - size) / step)
    # (the reference breaks as soon as a window reaches the end)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.when(n <= chunk_size, F.lit(1)).otherwise(
            F.lit(1) + F.ceil((n - F.lit(chunk_size)) / F.lit(step)).cast("int")
        )
    )
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    out = (
        df.withColumn("_words", words)
        .withColumn("_n", n)
        .withColumn("chunk_index", F.explode(idx))
        .withColumn("start_word", F.col("chunk_index") * step)
        .withColumn(
            "end_word", F.least(F.col("start_word") + chunk_size, F.col("_n"))
        )
        .withColumn(
            "chunk_text",
            F.array_join(
                F.slice(
                    "_words",
                    F.col("start_word") + 1,
                    F.col("end_word") - F.col("start_word"),
                ),
                " ",
            ),
        )
    )
    if max_chars is not None:
        out = out.withColumn(
            "chunk_text", truncate_at_word_boundary(F.col("chunk_text"), max_chars)
        )
    out = out.withColumn(
        "word_count",
        F.when(
            F.col("chunk_text") == "", F.lit(0)
        ).otherwise(F.size(F.split(F.col("chunk_text"), r"\s+"))),
    )
    return out.select(
        *id_cols, "chunk_index", "chunk_text", "start_word", "end_word", "word_count"
    )


def truncate_at_word_boundary(text: F.Column, max_chars: int) -> F.Column:
    """Reference CharacterLimitChunker._truncate_text: keep text ≤
    max_chars; otherwise cut at the last space within the limit, hard-cut
    when there is none (single giant word)."""
    head = F.substring(text, 1, max_chars)
    # position of last space in head == len(head) - locate(' ', reverse)
    rev_pos = F.locate(" ", F.reverse(head))
    at_space = F.substring(
        text, F.lit(1), F.length(head) - rev_pos
    )
    return F.when(F.length(text) <= max_chars, text).otherwise(
        F.when(rev_pos > 0, at_space).otherwise(head)
    )


# ---------------------------------------------------------------------------
# Deterministic stand-in embedder (STUB for a model-serving UDF)
# ---------------------------------------------------------------------------


def _pseudo_vector(text: str, dim: int, algo: str) -> list[float]:
    """Hash-seeded pseudo-embedding in [-1, 1]^dim, L2-normalized.
    DETERMINISTIC STAND-IN for a real embedding model (the reference calls
    AWS Bedrock here, ``vector/embeddings.py:24-26`` — unavailable
    offline)."""
    # one 16-byte digest per 4 dims, decoded in bulk (identical values to
    # the former per-element struct.unpack loop: big-endian int32 / 2^31)
    raw = b"".join(
        hashlib.new(algo, f"{j}|{text}".encode()).digest()[:16]
        for j in range(0, dim, 4)
    )
    out = np.frombuffer(raw, dtype=">i4").astype(np.float64)[:dim] / 2**31
    nrm = float(np.linalg.norm(out))
    if nrm > 0:
        out = out / nrm
    return [float(x) for x in out]


def _fake_vector(text: str, dim: int = FAKE_EMBED_DIM) -> list[float]:
    return _pseudo_vector(text, dim, "md5")


# ---------------------------------------------------------------------------
# Embedder plug-in contract (VERDICT r02 #7)
#
# An embedder is a plain function ``(text: str, dim: int) -> list[float]``
# registered under a name.  The engine consumes it exclusively through
# ``embedder_udf`` (an Arrow-batched pandas UDF ``string -> array<float>``
# applied at chunk-index build) and ``embed_query`` (driver-side, for the
# single query string) — the reference's EmbeddingGenerator seam
# (``vector/embeddings.py:24-26``, Bedrock batch text → float[1024]).
#
# ``build_vector_index`` persists the embedder name + dim in
# ``vector/_meta.json`` so the search path ALWAYS embeds queries with the
# model that built the store — swapping models is a one-line config change
# (``default_embedder`` in config.toml) or a register_embedder() call, and
# nothing in chunking/search changes.  A production deployment registers a
# real model client here; per-row work stays inside a vectorized UDF.
# ---------------------------------------------------------------------------

EMBEDDERS: dict = {
    "fake-md5": _fake_vector,
    "fake-sha1": lambda t, d=FAKE_EMBED_DIM: _pseudo_vector(t, d, "sha1"),
}
DEFAULT_EMBEDDER = "fake-md5"


def register_embedder(name: str, fn) -> None:
    """Register a ``(text, dim) -> list[float]`` embedding function (e.g.
    a real model client).  It will run inside an Arrow-batched pandas UDF;
    batch-level model calls belong inside ``fn``'s closure."""
    EMBEDDERS[name] = fn


def _require_embedder(name: str):
    if name not in EMBEDDERS:
        raise ValueError(
            f"unknown embedder {name!r}; registered: {sorted(EMBEDDERS)}"
        )
    return EMBEDDERS[name]


def embed_query(name: str, text: str, dim: int = FAKE_EMBED_DIM) -> list[float]:
    """Driver-side single-string embedding (query path)."""
    return [float(x) for x in _require_embedder(name)(text, dim)]


def embedder_udf(name: str = DEFAULT_EMBEDDER, dim: int = FAKE_EMBED_DIM):
    """Vectorized pandas UDF ``string -> array<float>`` for the registered
    embedder — the only place document text meets the model."""
    fn = _require_embedder(name)
    from pyspark.sql.types import ArrayType, FloatType

    @F.pandas_udf(ArrayType(FloatType()))
    def embed(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(lambda t: fn(t, dim))

    return embed


def fake_embed_udf(dim: int = FAKE_EMBED_DIM):
    """Back-compat alias for ``embedder_udf(DEFAULT_EMBEDDER, dim)``."""
    return embedder_udf(DEFAULT_EMBEDDER, dim)


# ---------------------------------------------------------------------------
# Chunk-level semantic search (J2: chunks ⋈ vectors ⋈ docs)
# ---------------------------------------------------------------------------


def semantic_search_chunks(
    chunk_vecs: DataFrame,
    query_vec: list[float],
    top_k: int = 10,
    *,
    doc_col: str = "path",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference searcher semantics (``vector/searcher.py:74-110``):
    take the ``top_k*3`` highest-cosine CHUNKS, dedupe by document keeping
    each document's best chunk, order by score desc, limit ``top_k``.

    Input: one row per chunk with at least (doc_col, chunk_index,
    chunk_text, vec_col).  Output: (doc_col, score, chunk_text,
    chunk_index) — score = cosine similarity (the reference's
    ``1 − cosine_distance``)."""
    from pyspark.sql.window import Window

    from bm25_index_tool_spark.pipeline.simsearch import cosine_sql

    fetch_k = top_k * 3
    scored = (
        chunk_vecs.withColumn(
            "score", F.round(cosine_sql(f"`{vec_col}`", query_vec), 9)
        )
        .orderBy(F.desc("score"), F.asc(doc_col), F.asc("chunk_index"))
        .limit(fetch_k)
    )
    w = Window.partitionBy(doc_col).orderBy(
        F.desc("score"), F.asc("chunk_index")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(doc_col, "score", "chunk_text", "chunk_index")
        .orderBy(F.desc("score"), F.asc(doc_col))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# Per-index vector store (chunks + embeddings under index_dir/vector/)
# ---------------------------------------------------------------------------

VECTOR_DIR = "vector"


from bm25_index_tool_spark.delta_store import _locked_writer as _locked


@_locked
def build_vector_index(
    spark,
    index_dir: str,
    *,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    chunk_overlap: int = DEFAULT_CHUNK_OVERLAP,
    max_chars: int | None = 48_000,
    dim: int = FAKE_EMBED_DIM,
    embedder: str = DEFAULT_EMBEDDER,
) -> dict:
    """Chunk the index's docs table and embed every chunk; write
    ``index_dir/vector/`` parquet (path, chunk_index, chunk_text,
    word_count, embedding) + ``_meta.json`` recording which embedder/dim
    built the store (the search path embeds queries with the same model).
    The default embedder is the deterministic stand-in — see module
    docstring."""
    import os

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import delta_store as DS

    manifest = B.load_manifest(index_dir)
    docs = DS.docs_view(
        spark, index_dir, B.read_table(spark, index_dir, B.DOCS_DIR, manifest)
    )
    chunks = chunk_documents(
        docs.select(F.col("full_path").alias("path"), "content"),
        id_cols=["path"],
        text_col="content",
        chunk_size=chunk_size,
        chunk_overlap=chunk_overlap,
        max_chars=max_chars,
    )
    embed = embedder_udf(embedder, dim)
    out_path = os.path.join(index_dir, VECTOR_DIR)
    # STAGE the new base, commit via one swap (code-review r05): an
    # in-place overwrite first DELETES the live dir, so a crash mid-write
    # (or a reader racing the job) saw a truncated store with no
    # _meta.json — the same hazard compact_index stages .compact-tmp for.
    # The meta file is written INTO the staged dir, so the swap is the
    # single commit point for data + metadata together.
    tmp_path = out_path + ".build-tmp"
    from pyspark.sql import Observation

    obs = Observation("vector_metrics")
    (
        chunks.withColumn("embedding", embed(F.col("chunk_text")))
        .observe(obs, F.count(F.lit(1)).alias("n_chunks"))
        .write.mode("overwrite")
        .parquet(tmp_path)
    )
    meta = {
        "embedder": embedder,
        "dim": dim,
        "n_chunks": obs.get["n_chunks"],
        # chunking params persist so incremental refreshes chunk changed
        # docs EXACTLY like the build did (reference stores chunk_size/
        # chunk_overlap in vector metadata, commands/update.py:284-287)
        "chunk_size": chunk_size,
        "chunk_overlap": chunk_overlap,
        "max_chars": max_chars,
    }
    meta = write_vector_meta(tmp_path, meta, manifest.generation)
    import shutil

    shutil.rmtree(out_path, ignore_errors=True)
    os.replace(tmp_path, out_path)
    # the new base was built from the LIVE view (base ∪ segments ⟖
    # tombstones), so outstanding vector segments are now folded in —
    # leaving them would duplicate every segment chunk on the next scan
    # (and an old tombstone would kill the fresh base rows of a modified
    # doc).  Clearing them is safe under the write lock; a crash between
    # the base write and these removes only re-creates the pre-existing
    # duplicate window, which re-running the build heals.
    for seg_root in (DS.VECTOR_SEG_DIR, DS.VECTOR_TS_DIR):
        shutil.rmtree(os.path.join(index_dir, seg_root), ignore_errors=True)
    B.save_manifest(index_dir, manifest)
    return meta


def write_vector_meta(store_dir: str, meta: dict, generation: int) -> dict:
    """Write a vector base's ``_meta.json`` (tmp + fsync + replace) into the
    staged store dir.  ``base_generation`` is the index generation the
    rewrite started from: every base rewrite (build, compaction) records a
    new one and ends with a manifest save, so an ANN index is fresh iff it
    recorded the same value; a segment append leaves it alone."""
    import json
    import os

    meta = {**meta, "base_generation": generation}
    mp = os.path.join(store_dir, "_meta.json")
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(mp + ".tmp", mp)
    return meta


def _load_vector_meta(index_dir: str) -> dict:
    """The store's embedder/chunking contract.  A store dir WITHOUT
    _meta.json is treated as corrupt (code-review r05): silently falling
    back to defaults would let the next incremental refresh chunk with the
    wrong params and embed with the stand-in model — permanently mixing
    models in one store with no error anywhere."""
    import json
    import os

    meta_path = os.path.join(index_dir, VECTOR_DIR, "_meta.json")
    try:
        with open(meta_path) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"vector store at {os.path.dirname(meta_path)} has no "
            "_meta.json (corrupt or interrupted build) — re-run "
            "build_vector_index"
        ) from None


def _seg_ordered_alive(rows: DataFrame, ts, seg_col: str) -> DataFrame:
    """THE aliveness rule of the vector store (one owner — code-review r05
    found three hand-rolled copies of this safety-critical 12-liner): a row
    is alive iff its origin segment ≥ the path's latest tombstone segment.
    Base rows pass a seg sentinel BELOW every real id (segments start at
    1), so any tombstone kills them; a refresh's own chunks survive their
    own tombstone; a later refresh/delete kills older copies.  ``ts`` may
    be None (no tombstones → everything alive)."""
    if ts is None:
        return rows
    latest = ts.groupBy("path").agg(
        F.max(F.col("seg").cast("int")).alias("_ts_seg")
    )
    return (
        rows.join(F.broadcast(latest), "path", "left")
        .where(
            F.col("_ts_seg").isNull()
            | (F.col(seg_col).cast("int") >= F.col("_ts_seg"))
        )
        .drop("_ts_seg")
    )


# Memoized composed view per index_token: the exact-scan path re-resolved
# the vector base's parquet listing + segment dirs on EVERY query (~0.1 s
# of driver latency).  Every vector writer (base rebuild, segment refresh,
# compaction) ends with a manifest save, so a memo hit can only serve the
# identical view.
_VIEW_CACHE: dict[str, tuple] = {}


def vector_view(spark, index_dir: str) -> DataFrame:
    """Live chunk-vector table — the vector-store twin of delta_store's
    views, but path-keyed with SEGMENT ORDERING: a refresh of path P in
    segment N tombstones P at seg N, and P's chunks from segment N itself
    must survive, so a row is alive iff its segment ≥ the path's latest
    tombstone segment (base rows carry seg 0 → any tombstone kills them;
    an earlier refresh's chunks die to a later one's tombstone; a deleted
    doc has a tombstone and no newer chunks)."""
    import os

    from bm25_index_tool_spark import delta_store as DS

    tok = DS.index_token(index_dir, spark)
    hit = _VIEW_CACHE.get(index_dir)
    if hit is not None and hit[0] == tok:
        return hit[1]

    base = spark.read.schema(DS.VECTOR_SCHEMA).parquet(
        os.path.join(index_dir, VECTOR_DIR)
    )
    cols = base.columns
    seg = DS._read_all_segments(
        spark, index_dir, DS.VECTOR_SEG_DIR, keep_seg=True,
        schema=DS.VECTOR_SCHEMA,
    )
    out = base.withColumn("_seg", F.lit(0))
    if seg is not None:
        out = out.unionByName(
            seg.select(*cols, F.col("seg").cast("int").alias("_seg"))
        )
    ts = DS._read_all_segments(
        spark, index_dir, DS.VECTOR_TS_DIR, keep_seg=True,
        schema=DS.VECTOR_TS_SCHEMA,
    )
    out = _seg_ordered_alive(out, ts, "_seg")
    out = out.drop("_seg").select(*cols)
    _VIEW_CACHE[index_dir] = (tok, out)
    return out


def stage_vector_refresh(
    spark,
    index_dir: str,
    delta_docs: DataFrame,
    removed_paths: DataFrame,
    seg: int,
    moves: list,
) -> None:
    """Chunk + embed the changed docs with the STORE'S OWN embedder/chunk
    params and stage the result as segment ``seg`` (committed by the
    caller's journal alongside the index tables) — the reference's
    incremental vector update (delete chunks of deleted∪modified docs,
    re-embed added∪modified; ``commands/update.py:292-320``) re-expressed
    as an immutable segment + tombstones.

    ``delta_docs``: (full_path, content) of added∪modified docs;
    ``removed_paths``: (path) of deleted∪modified docs (old identity)."""
    import os

    from bm25_index_tool_spark import delta_store as DS

    meta = _load_vector_meta(index_dir)
    chunks = chunk_documents(
        delta_docs.select(F.col("full_path").alias("path"), "content"),
        id_cols=["path"],
        text_col="content",
        chunk_size=meta["chunk_size"],
        chunk_overlap=meta["chunk_overlap"],
        max_chars=meta["max_chars"],
    )
    embed = embedder_udf(meta["embedder"], meta["dim"])
    seg_rows = chunks.withColumn("embedding", embed(F.col("chunk_text")))

    for df, table in (
        (seg_rows, DS.VECTOR_SEG_DIR),
        (removed_paths.select("path"), DS.VECTOR_TS_DIR),
    ):
        final = DS._seg_path(index_dir, table, seg)
        staged = final + ".staging"
        os.makedirs(os.path.join(index_dir, table), exist_ok=True)
        df.coalesce(8).write.mode("overwrite").parquet(staged)
        moves.append((staged, final))


# ---------------------------------------------------------------------------
# ANN over the vector store (the 100-TB semantic-search path)
#
# `semantic_search_chunks` over `vector_view` scans EVERY chunk vector —
# exact, but a full-corpus scan per query.  At scale the standard answer is
# an inverted-file index over the (immutable) base chunk table, kept
# LSM-consistent with the store's refresh segments:
#
#   candidates = IVF-probe(base, nprobe cells)   — partition-pruned scan
#                ⟕anti broadcast(vector tombstone paths)   — hides refreshed
#                                                            /deleted docs
#                ∪ live refresh-segment rows (delta-sized, brute-forced)
#
# The probe is exact IVF-Flat (full vectors stored in the index → exact
# cosines; only candidate RECALL is approximate, recall→1 as nprobe→m).
# Appends never touch the ANN index (base is immutable between
# compactions); `compact_index` rewrites the base and records a new
# ``base_generation`` in vector/_meta.json, which the ANN meta's recorded
# value then no longer matches — `method="auto"` falls back to the exact
# scan until `build_vector_ann` is re-run, so results are ALWAYS correct,
# never silently stale.
# ---------------------------------------------------------------------------

VECTOR_ANN_DIR = "vector_ann"
VECTOR_ANN_FOLDS_DIR = "vector_ann_folds"


def _ann_fresh(ann: dict | None, vector_meta: dict) -> bool:
    """The ANN index (its ``_ann_meta.json``) was built over the current
    vector base (its ``vector/_meta.json``)."""
    return ann is not None and (
        ann["base_generation"] == vector_meta["base_generation"]
    )


@_locked
def build_vector_ann(
    spark,
    index_dir: str,
    *,
    m: int = 64,
    quantizer: str = "kmeans",
    seed: int = 42,
) -> dict:
    """Materialize an IVF-Flat index over the BASE chunk-vector table:
    every chunk row tagged with its coarse cell, ``partitionBy(cell)`` so a
    probe reads exactly nprobe partitions; centroids + the vector base's
    generation persist in ``_ann_meta.json``.  Re-run after
    ``compact_index`` (the generation gate makes a stale index fall back to
    the exact scan)."""
    import json
    import os

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import delta_store as DS
    from bm25_index_tool_spark.pipeline import simsearch as SS

    manifest = B.load_manifest(index_dir)
    base = spark.read.schema(DS.VECTOR_SCHEMA).parquet(
        os.path.join(index_dir, VECTOR_DIR)
    )
    n = base.count()
    if n == 0:
        raise ValueError("vector store is empty; nothing to index")
    m_eff = max(1, min(m, n))
    train_sample = None
    if quantizer == "kmeans":
        cents, train_sample = SS.ivf_kmeans_centroids(
            base, m_eff, vec_col="embedding", seed=seed, n=n,
            return_sample=True,
        )
    elif quantizer == "stride":
        from pyspark.sql.window import Window

        ided = base.withColumn(
            "_rid",
            F.row_number().over(
                Window.orderBy("path", "chunk_index")
            ).cast("long"),
        )
        cents = SS.ivf_stride_centroids(
            ided, m_eff, id_col="_rid", vec_col="embedding"
        )
    else:
        raise ValueError(f"unknown quantizer {quantizer!r} (kmeans|stride)")

    ann_path = os.path.join(index_dir, VECTOR_ANN_DIR)
    cols = base.columns
    (
        # Arrow-batched matmul assignment (SS.assign_cells): full rows ride
        # through one mapInArrow pass — they're all rewritten by the
        # partitionBy anyway — and the plan stays flat in m×dim where the
        # ivf_cell_col expression twin would not compile at real 1024-dim
        # embeddings × production m (VERDICT r04 #1)
        SS.assign_cells(base, cents, vec_col="embedding")
        .select("cell", *cols)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(ann_path)
    )
    # a rebuild supersedes every absorbed fold (their rows are folded into
    # the new base by the compaction that preceded the rebuild)
    import shutil

    shutil.rmtree(
        os.path.join(index_dir, VECTOR_ANN_FOLDS_DIR), ignore_errors=True
    )
    # Adaptive nprobe default (VERDICT r05 "What's wrong #2"): a fixed
    # m/4 silently delivered 0.77 recall@10 on near-uniform embeddings
    # while over-probing genuinely clustered ones.  The quantizer's own
    # training sample answers "where do a query's true neighbors fall in
    # the probe order" directly, so the default is now the smallest
    # nprobe in [m/4, m/2] whose ESTIMATED recall@10 clears 0.9
    # (driver numpy on the already-collected sample — no extra jobs);
    # the estimate ships in the meta so `info`/`ann` can print what the
    # default actually buys.  Callers still tune per query via
    # semantic_search_index(nprobe=).
    npro, exp_recall = max(1, m_eff // 4), None
    if train_sample is not None and train_sample.size:
        npro, exp_recall = SS.ivf_recommend_nprobe(
            train_sample, cents, target_recall=0.9, k=10, seed=seed,
            lo=max(1, m_eff // 4), hi=max(1, m_eff // 2),
        )
    meta = {
        "m": m_eff,
        "quantizer": quantizer,
        "seed": seed,
        "centroids": cents,
        "absorbed": [],
        "absorbed_dirs": [],
        "base_generation": _load_vector_meta(index_dir)["base_generation"],
        "nprobe_default": npro,
        "expected_recall_at_default": exp_recall,
        "n_chunks": n,
    }
    with open(os.path.join(ann_path, "_ann_meta.json"), "w") as f:
        json.dump(meta, f)
    B.save_manifest(index_dir, manifest)
    return meta


def absorb_merged_segment_into_ann(
    spark, index_dir: str, fold_seg: int
) -> int:
    """Incremental ANN maintenance at tiered-merge time (VERDICT r04 #7):
    assign the freshly merged vector segment's live rows to the EXISTING
    centroids (no re-clustering) and materialize them as a cell-partitioned
    ``vector_ann_folds/fold=<seg>/`` directory.  The probe then reads
    (pruned ANN base ∪ pruned fold dirs ∪ live segments NEWER than the
    fold) — steady-state ingest keeps the un-pruned union side bounded to
    the post-merge tail instead of growing without limit.

    Aliveness stays seg-ordered: absorbed rows carry their fold id, base
    rows sort below every tombstone (seg ids start at 1), so a later
    modification's tombstone kills the absorbed copy while the newer
    segment row survives — the same rule as ``vector_view``.

    Purely an OPTIMIZATION with probe-side validation: on any failure (or
    when no fresh ANN exists) nothing is recorded and the probe simply
    unions the folded segment like any other — correct, just less pruned.
    A merge folds from the oldest id up, so each absorption supersedes all
    previous fold dirs (their rows are inside the new merged segment);
    superseded dirs are removed after the meta swap, and a manifest save
    ends the absorption.  FULL compaction rewrites the base and still
    requires ``build_vector_ann`` (the generation gate falls back to the
    exact scan until then)."""
    import json
    import os
    import shutil

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import delta_store as DS
    from bm25_index_tool_spark.pipeline import simsearch as SS

    meta = _load_ann_meta(index_dir)
    if meta is None or not _ann_fresh(meta, _load_vector_meta(index_dir)):
        return 0  # no or stale ANN: probe already falls back; nothing to absorb
    folds_root = os.path.join(index_dir, VECTOR_ANN_FOLDS_DIR)
    final = os.path.join(folds_root, f"fold={fold_seg}")
    staging = final + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    # clear crash orphans: fold dirs not recorded in the meta (a previous
    # absorption died between the dir move and the meta swap) — the probe
    # ignores them, but they'd leak forever otherwise
    recorded = {int(s) for s in (meta.get("absorbed_dirs") or [])}
    if os.path.isdir(folds_root):
        for d in os.listdir(folds_root):
            if d.startswith("fold=") and not d.endswith(".staging"):
                try:
                    fid = int(d.split("=", 1)[1])
                except ValueError:
                    continue
                if fid not in recorded and fid != fold_seg:
                    shutil.rmtree(
                        os.path.join(folds_root, d), ignore_errors=True
                    )

    seg = DS._read_all_segments(
        spark, index_dir, DS.VECTOR_SEG_DIR, keep_seg=True,
        schema=DS.VECTOR_SCHEMA,
    )
    prior_dirs = list(meta.get("absorbed_dirs") or [])
    rows = None
    if seg is not None:
        rows = seg.where(F.col("seg").cast("int") == fold_seg).drop("seg")
        # the merged segment applied fold-internal tombstones already;
        # rows here are live-as-of-fold
        if rows.limit(1).count() == 0:
            rows = None
    n = 0
    if rows is not None:
        (
            SS.assign_cells(rows, meta["centroids"], vec_col="embedding")
            .repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(staging)
        )
        os.replace(staging, final)
        n = 1  # dir exists; row count not needed for correctness
    new_meta = dict(meta)
    new_meta["absorbed"] = [fold_seg]
    new_meta["absorbed_dirs"] = [fold_seg] if rows is not None else []
    mp = os.path.join(index_dir, VECTOR_ANN_DIR, "_ann_meta.json")
    with open(mp + ".tmp", "w") as f:
        json.dump(new_meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(mp + ".tmp", mp)
    for s in prior_dirs:
        if s != fold_seg:
            shutil.rmtree(
                os.path.join(folds_root, f"fold={s}"), ignore_errors=True
            )
    B.save_manifest(index_dir, B.load_manifest(index_dir))
    return n


def _load_ann_meta(index_dir: str) -> dict | None:
    import json
    import os

    p = os.path.join(index_dir, VECTOR_ANN_DIR, "_ann_meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


# Memoized base-ANN frame per index_token: resolving the cell-partitioned
# ANN dir costs a file listing over m partition dirs (~0.2 s at m=64,
# growing with m) and was paid by EVERY probe.  ANN build and fold
# absorption end with a manifest save; over-invalidating on other commits
# is harmless.
_ANN_FRAME_CACHE: dict[str, tuple] = {}


def _ann_frame(spark, index_dir: str):
    import os

    from bm25_index_tool_spark import delta_store as DS

    tok = DS.index_token(index_dir, spark)
    hit = _ANN_FRAME_CACHE.get(index_dir)
    if hit is not None and hit[0] == tok:
        return hit[1]
    df = spark.read.schema("cell INT, " + DS.VECTOR_SCHEMA).parquet(
        os.path.join(index_dir, VECTOR_ANN_DIR)
    )
    _ANN_FRAME_CACHE[index_dir] = (tok, df)
    return df


def _live_segment_rows(
    spark, index_dir: str, cols: list[str], *, after_seg: int = -1
):
    """Live rows of the refresh segments only (base excluded): a segment
    row survives iff its seg ≥ the path's latest tombstone seg — the same
    ordering rule as vector_view, restricted to the delta.  ``after_seg``
    skips segments already absorbed into the ANN fold dirs (their rows are
    served partition-pruned from there); tombstones from ALL segments
    still apply — a folded tombstone's seg never exceeds the fold id, so
    newer rows stay alive under the ordering rule."""
    from bm25_index_tool_spark import delta_store as DS

    seg = DS._read_all_segments(
        spark, index_dir, DS.VECTOR_SEG_DIR, keep_seg=True,
        after=after_seg if after_seg >= 0 else None,
        schema=DS.VECTOR_SCHEMA,
    )
    if seg is None:
        return None
    ts = DS._read_all_segments(
        spark, index_dir, DS.VECTOR_TS_DIR, keep_seg=True,
        schema=DS.VECTOR_TS_SCHEMA,
    )
    return _seg_ordered_alive(seg, ts, "seg").select(*cols)


def semantic_search_index(
    spark,
    index_dir: str,
    query: str,
    top_k: int = 10,
    *,
    dim: int | None = None,
    method: str = "auto",
    nprobe: int | None = None,
) -> DataFrame:
    """Client entry: embed the query with the SAME embedder that built the
    store (``vector/_meta.json``) and search the live chunk-vector view.

    ``method``: 'scan' = exact full scan of base + segments; 'ivf' = probe
    the materialized ANN index (partition-pruned base candidates ∪ live
    segment rows — raises if the index is missing or stale); 'auto'
    (default) = 'ivf' when a FRESH ANN index exists, else 'scan'.  With
    ``nprobe == m`` the ivf path is result-identical to the scan."""
    import os

    from bm25_index_tool_spark import build as B

    B.load_manifest(index_dir)  # refuses an index of another format
    path = os.path.join(index_dir, VECTOR_DIR)
    if not os.path.exists(path):
        raise ValueError(
            f"Vector index not found under {index_dir}; create with "
            "build_vector_index (or create_index(build_vector_index=True))"
        )
    meta = _load_vector_meta(index_dir)
    if dim is not None and dim != meta["dim"]:
        # a mismatched query dim makes cosine_expr's zip_with pad with
        # nulls → ALL scores null → arbitrary top-k with no error
        # (code-review r05); the store's contract is its _meta.json dim
        raise ValueError(
            f"dim={dim} does not match the store's embedding dim "
            f"{meta['dim']} (vector/_meta.json)"
        )
    qv = embed_query(meta["embedder"], query, meta["dim"])

    ann = _load_ann_meta(index_dir)
    from bm25_index_tool_spark import delta_store as DS

    fold_ok = ann is not None and all(
        os.path.exists(
            os.path.join(index_dir, VECTOR_ANN_FOLDS_DIR, f"fold={s}")
        )
        for s in (ann.get("absorbed_dirs") or [])
    )
    if ann is not None and fold_ok and (ann.get("absorbed") or []):
        # a fold dir is only usable while its segment id still EXISTS: if a
        # later merge folded seg f1 into f2 but absorption failed before
        # the meta swap, the live tail (> f1) now CONTAINS f1's rows — the
        # fold=f1 dir would double-count every never-tombstoned path.
        # Degrade to ignoring the folds (correct, just less pruned).
        fold_ok = set(ann["absorbed"]) <= set(DS.segment_ids(index_dir))
    fresh = _ann_fresh(ann, meta)
    if ann is not None and not fold_ok:
        ann = dict(ann)
        ann["absorbed"] = []
        ann["absorbed_dirs"] = []
    if method == "auto":
        method = "ivf" if fresh else "scan"
    if method == "scan":
        return semantic_search_chunks(
            vector_view(spark, index_dir), qv, top_k, doc_col="path"
        )
    if method != "ivf":
        raise ValueError(f"unknown method {method!r} (auto|scan|ivf)")
    if ann is None:
        raise ValueError(
            f"No ANN index under {index_dir}; build with build_vector_ann"
        )
    if not fresh:
        raise ValueError(
            "ANN index is stale (vector base rewritten since build_vector_ann"
            " — e.g. by compact_index); re-run build_vector_ann or use"
            " method='scan'"
        )

    from bm25_index_tool_spark.pipeline import simsearch as SS

    probe = SS.ivf_probe_cells(
        qv, ann["centroids"], nprobe if nprobe is not None else ann["nprobe_default"]
    )
    cand = (
        _ann_frame(spark, index_dir)
        .where(F.col("cell").isin(probe))
        .drop("cell")
        # base rows sort below every tombstone (seg ids start at 1)
        .withColumn("_aseg", F.lit(-1))
    )
    absorbed = sorted(int(s) for s in (ann.get("absorbed") or []))
    for s in ann.get("absorbed_dirs") or []:
        fold = (
            spark.read.schema("cell INT, " + DS.VECTOR_SCHEMA)
            .parquet(os.path.join(index_dir, VECTOR_ANN_FOLDS_DIR, f"fold={s}"))
            .where(F.col("cell").isin(probe))
            .drop("cell")
            .withColumn("_aseg", F.lit(int(s)))
        )
        cand = cand.unionByName(fold)
    cols = [c for c in cand.columns if c != "_aseg"]
    ts = DS._read_all_segments(
        spark, index_dir, DS.VECTOR_TS_DIR, keep_seg=True,
        schema=DS.VECTOR_TS_SCHEMA,
    )
    # seg-ordered aliveness (the vector_view rule, one owner): a tombstone
    # kills base + older absorbed copies but never the newer absorbed row
    # it refreshed
    cand = _seg_ordered_alive(cand, ts, "_aseg").drop("_aseg")
    seg_live = _live_segment_rows(
        spark, index_dir, cols, after_seg=absorbed[-1] if absorbed else -1
    )
    if seg_live is not None:
        cand = cand.unionByName(seg_live)
    return semantic_search_chunks(cand, qv, top_k, doc_col="path")
