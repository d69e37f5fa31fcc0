"""Engine scorer (SURVEY.md §2.4 plan 2): conjunctive block-max scoring over
the compressed posting blocks, per doc-shard, inside ``mapInArrow``; bounded
local top-k per shard; global top-k merge via ``TakeOrderedAndProject``.

Must produce IDENTICAL (doc_id, score) results to the DataFrame-join plan
(score.py) — plan 1 is the differential oracle for this plan
(tests/test_wand.py), and both are oracle-identical to SQLite FTS5.

Algorithm per shard (all numpy, no per-posting Python):

1. rarest query term's blocks drive iteration in doc_id order;
2. for each driver block, the candidate upper bound is
   Σ_t ub(best overlapping block of t) where
   ub = q_mult·idf·(max_tf·(k1+1))/(max_tf + k1·(1−b+b·min_dl/avgdl))
   — monotone bounds from (max_tf, min_dl) block metadata; a block whose
   bound can't beat the running kth score is skipped UNDECODED (block-max
   pruning); a block with no overlapping blocks in some term is skipped
   outright (conjunctive AND);
3. surviving blocks are decoded (delta+varbyte, vectorized) and intersected
   with ``np.isin``/searchsorted; exact BM25 summed for survivors;
4. shard emits its local top-k; the global ``ORDER BY score DESC, doc_id
   LIMIT k`` merges shard winners.
"""

from __future__ import annotations

import numpy as np

from bm25_index_tool_spark.blocks import decode_block
from bm25_index_tool_spark.score import IDF_EPSILON, LoadedIndex
from bm25_index_tool_spark.tokenize import tokenize_fts5_query


# Engine auto-selection (VERDICT r03 #4).  The cost driver separating the
# two rank-identical plans is the HOTTEST posting list length, not corpus
# size: the join plan shuffles + aggregates every matching posting row
# (cost ∝ Σ df over query terms), while block-max WAND's skipping only pays
# once lists dwarf the 128-doc block size and upper bounds prune real
# decode work.  Measured crossover (BENCH/BASELINE_APPENDIX.md): join wins
# at sf0.1's natural df (≤ a few 10⁴); WAND wins on the hot-term bench
# corpus (uniform-term df in the 10⁵ range with skewed tf).  Default
# threshold sits at that boundary; override per deployment via
# ``wand_df_threshold`` in config.toml.
WAND_DF_THRESHOLD = 100_000


def choose_engine(index_dir: str, *, df_threshold: int | None = None) -> str:
    """'blocks' when the block store exists and its recorded longest
    posting list (blocks_meta.json max_df, refreshed by build_blocks)
    crosses the WAND crossover threshold; 'join' otherwise."""
    import json
    import os

    thr = WAND_DF_THRESHOLD if df_threshold is None else int(df_threshold)
    mp = os.path.join(index_dir, "blocks_meta.json")
    try:
        with open(mp) as f:
            max_df = json.load(f)["max_df"]
    except (OSError, ValueError):
        return "join"
    return "blocks" if max_df >= thr else "join"


def _idf(n_docs: int, df: int) -> float:
    import math

    raw = math.log((n_docs - df + 0.5) / (df + 0.5))
    return IDF_EPSILON if raw <= 0.0 else raw


def _partial(tf, dl, w, k1: float, b: float, avgdl: float):
    """Per-(term, doc) BM25 contribution with EXACTLY score.bm25_partial's
    float association — ((idf*tf)*(k1+1))/denom, q_mult applied LAST — so
    plan 1 and plan 2 compute bit-matched partials (code-review r05: a
    different association order differs by ULPs, and a ULP at the top_k
    boundary flips doc membership between the engines).  ``w`` is the
    (idf, q_mult) pair."""
    idf, mult = w
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return (
        ((idf * tf) * (k1 + 1.0))
        / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
        * mult
    )


def _shard_topk(tbl, weights: dict, k1: float, b: float, avgdl: float, top_k: int):
    """Exact conjunctive top-k for one shard's blocks table."""
    terms = tbl.column("term").to_numpy(zero_copy_only=False)
    present = set(terms.tolist())
    if set(weights) - present:
        return [], []  # some query term absent in shard → no conjunctive match

    mins = tbl.column("doc_id_min").to_numpy(zero_copy_only=False)
    maxs = tbl.column("doc_id_max").to_numpy(zero_copy_only=False)
    max_tfs = tbl.column("max_tf").to_numpy(zero_copy_only=False)
    min_dls = tbl.column("min_dl").to_numpy(zero_copy_only=False)
    ns = tbl.column("n").to_numpy(zero_copy_only=False)
    payloads = tbl.column("payload")

    per_term: dict[str, dict] = {}
    for t, w in weights.items():
        idx = np.flatnonzero(terms == t)
        # block upper bound = the SAME partial formula evaluated at the
        # block's (max_tf, min_dl) — sharing _partial keeps the bound
        # admissible if the scoring expression ever changes
        ub = _partial(max_tfs[idx], min_dls[idx], w, k1, b, avgdl)
        per_term[t] = {
            "idx": idx,
            "min": mins[idx],
            "max": maxs[idx],
            "ub": ub,
            "count": int(ns[idx].sum()),
            "decoded": {},
        }

    driver_term = min(per_term, key=lambda t: per_term[t]["count"])
    others = [t for t in per_term if t != driver_term]
    drv = per_term[driver_term]

    def decode(t: str, local_i: int):
        cache = per_term[t]["decoded"]
        if local_i not in cache:
            gi = int(per_term[t]["idx"][local_i])
            ids, tfs, dls = decode_block(payloads[gi].as_py(), int(ns[gi]))
            cache[local_i] = (ids.astype(np.int64), tfs, dls)
        return cache[local_i]

    top_ids: np.ndarray = np.zeros(0, dtype=np.int64)
    top_scores: np.ndarray = np.zeros(0, dtype=np.float64)
    theta = -np.inf

    for bi in range(len(drv["idx"])):
        lo, hi = int(drv["min"][bi]), int(drv["max"][bi])
        # overlapping blocks per other term + conjunctive existence check
        overlaps = {}
        dead = False
        ub_total = float(drv["ub"][bi])
        for t in others:
            pt = per_term[t]
            sel = np.flatnonzero((pt["min"] <= hi) & (pt["max"] >= lo))
            if sel.size == 0:
                dead = True
                break
            overlaps[t] = sel
            ub_total += float(pt["ub"][sel].max())
        if dead:
            continue
        # block-max pruning: skip undecoded only if the bound is STRICTLY
        # below the kth score — at ub == theta a candidate could still tie
        # and win on doc_id (blocks are not globally doc-ordered when a read
        # partition spans shards), so equal-bound blocks must be decoded
        if top_ids.size >= top_k and ub_total < theta:
            continue

        cand_ids, cand_tfs, cand_dls = decode(driver_term, bi)
        scores = _partial(cand_tfs, cand_dls, weights[driver_term], k1, b, avgdl)
        alive = np.ones(cand_ids.size, dtype=bool)
        for t in others:
            t_ids_list, t_tf_list = [], []
            for li in overlaps[t]:
                ids_o, tfs_o, dls_o = decode(t, int(li))
                t_ids_list.append(ids_o)
                t_tf_list.append(
                    _partial(tfs_o, dls_o, weights[t], k1, b, avgdl)
                )
            t_ids = np.concatenate(t_ids_list)
            t_sc = np.concatenate(t_tf_list)
            if len(t_ids_list) > 1:
                t_order = np.argsort(t_ids, kind="stable")
                t_ids, t_sc = t_ids[t_order], t_sc[t_order]
            pos = np.searchsorted(t_ids, cand_ids)
            pos_c = np.minimum(pos, t_ids.size - 1)
            hit = t_ids[pos_c] == cand_ids
            alive &= hit
            scores = np.where(hit, scores + t_sc[pos_c], scores)
            if not alive.any():
                break
        if not alive.any():
            continue
        new_ids = cand_ids[alive]
        new_scores = scores[alive]
        top_ids = np.concatenate([top_ids, new_ids])
        top_scores = np.concatenate([top_scores, new_scores])
        if top_ids.size > top_k:
            order = np.lexsort((top_ids, -top_scores))[:top_k]
            top_ids, top_scores = top_ids[order], top_scores[order]
        if top_ids.size >= top_k:
            theta = float(top_scores.min())

    order = np.lexsort((top_ids, -top_scores))
    return top_ids[order].tolist(), top_scores[order].tolist()


def local_topk_from_blocks(
    blocks, weights: dict, k1: float, b: float, avgdl: float, top_k: int
):
    """Per-partition local top-k over a (term-filtered) blocks DataFrame.

    The input is repartitioned by ``shard`` FIRST: a raw parquet read may
    split one shard's file across input partitions at row-group boundaries
    (files > spark.sql.files.maxPartitionBytes), separating a query term's
    blocks from the other terms' — the conjunctive presence/overlap checks
    in ``_shard_topk`` would then silently drop matching docs (ADVICE r01,
    high).  Tiny test files never split, so only a shuffle-enforced
    partitioning makes the invariant hold at scale.  The shuffle is small:
    only the query terms' blocks survive the pushed-down filter.

    Multiple WHOLE shards hashing into one task partition is exact: doc-id
    ranges don't overlap across shards, so scoring their union per partition
    yields the same per-doc scores.
    """

    def score_shard(batches):
        import pyarrow as pa

        from bm25_index_tool_spark.arrow_tokenize import _pin_arrow_threads

        _pin_arrow_threads()
        acc = [x for x in batches if x.num_rows]
        if not acc:
            return
        tbl = pa.Table.from_batches(acc).combine_chunks()
        ids, scores = _shard_topk(tbl, weights, k1, b, avgdl, top_k)
        if ids:
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(scores, pa.float64())],
                names=["doc_id", "score"],
            )

    return blocks.repartition("shard").mapInArrow(
        score_shard, "doc_id long, score double"
    )


def wand_search(index: LoadedIndex, query: str, top_k: int = 10):
    """Top-k BM25 via the block engine; result (doc_id, path, filename,
    content_sha256, score) identical to score.score_query."""
    from pyspark.sql import functions as F

    from bm25_index_tool_spark.murmur import term_bucket

    spark = index.spark
    m = index.manifest
    k1, b, avgdl, n_docs = m.params.k1, m.params.b, m.avgdl, m.num_docs

    from collections import Counter

    tokens = tokenize_fts5_query(query)
    counts = Counter(tokens)
    empty = spark.createDataFrame(
        [], "doc_id long, path string, filename string, content_sha256 string, score double"
    )
    if top_k <= 0:
        # engine identity with score_query's limit(0); without the guard
        # _shard_topk min()s a zero-size array inside the executor.
        # BEFORE the termstats job — no point paying a distributed
        # filter+collect whose result is discarded (code-review r05)
        return empty
    buckets = sorted({term_bucket(t, m.num_buckets) for t in counts})
    stats = (
        index.termstats()
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(list(counts)))
        .collect()
    )
    dfs = {r["term"]: r["df"] for r in stats}
    if set(counts) - set(dfs):
        return empty  # conjunctive: a term with no postings → no results

    weights = {t: (_idf(n_docs, dfs[t]), float(counts[t])) for t in counts}

    # memoized on the handle — repeated queries skip the per-query parquet
    # listing/footer resolution (LoadedIndex.blocks raises the same
    # missing-store ValueError this site used to)
    blocks = index.blocks().where(F.col("term").isin(list(counts)))

    local = local_topk_from_blocks(blocks, weights, k1, b, avgdl, top_k)
    topk = local.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_k)
    from bm25_index_tool_spark.score import fetch_winner_docs

    return (
        fetch_winner_docs(index, topk, ["full_path", "filename",
                                        "content_sha256"])
        .withColumnRenamed("full_path", "path")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
        .select("doc_id", "path", "filename", "content_sha256", "score")
    )
