"""Compressed posting-block format (SURVEY.md §2.4 plan 2, north star).

The reference delegates posting storage to FTS5's delta-encoded varint
doclists inside SQLite B-trees (SURVEY.md §4.2).  Our scale equivalent:

* postings are **doc-sharded**: shard = contiguous doc_id range, every term's
  postings for that range live in the shard.  This is the explicit skew
  treatment — a term with df ≈ N (the 'the' problem) is split across all
  shards instead of hot-spotting one partition, and each shard can run
  top-k scoring independently (WAND per shard → global merge).
* within a shard, postings are sorted (term, doc_id) and cut into blocks of
  ≤ BLOCK_SIZE entries per term; each block stores delta+varbyte-compressed
  doc_ids and varbyte tf/dl arrays plus block metadata: (doc_id_min,
  doc_id_max, max_tf, min_dl).  (max_tf, min_dl) give a query-time BM25
  upper bound — BM25 is monotone ↑ in tf and ↓ in dl — so block-max pruning
  survives incremental stats changes (no baked-in idf).
* encoder/decoder are pure numpy (vectorized varbyte) — no per-row Python.

Layout: ``index_dir/blocks/shard=K/*.parquet`` with rows
(term, block_id, n, doc_id_min, doc_id_max, max_tf, min_dl, payload binary)
where payload = varbyte(deltas) ‖ varbyte(tfs) ‖ varbyte(dls).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# ---------------------------------------------------------------------------
# vectorized varbyte codec (numpy, no per-element Python)
# ---------------------------------------------------------------------------


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array as classic varbyte (7 data bits per byte,
    high bit = continuation).  Fully vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of bytes per value: ceil(bit_length / 7), min 1
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
    nbits = np.maximum(nbits, 1)
    total = int(nbits.sum())
    out = np.zeros(total, dtype=np.uint8)
    # byte positions: for value i, bytes at offset[i] .. offset[i]+nbits[i]-1
    offsets = np.concatenate(([0], np.cumsum(nbits)[:-1]))
    # fill byte-by-byte over rounds (≤10 rounds for 64-bit)
    max_rounds = int(nbits.max())
    for r in range(max_rounds):
        mask = nbits > r
        idx = offsets[mask] + r
        vals = (v[mask] >> np.uint64(7 * r)) & np.uint64(0x7F)
        cont = (nbits[mask] - 1) > r
        out[idx] = vals.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def varbyte_decode(data: bytes, count: int) -> np.ndarray:
    """Decode ``count`` varbyte values.  Vectorized: terminal bytes are the
    ones without the continuation bit; value boundaries come from their
    positions (no per-value Python loop)."""
    if count == 0:
        return np.zeros(0, dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8)
    is_terminal = (raw & 0x80) == 0
    ends = np.flatnonzero(is_terminal)[:count]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    out = np.zeros(count, dtype=np.uint64)
    max_len = int(lengths.max())
    payload = (raw & 0x7F).astype(np.uint64)
    for r in range(max_len):
        mask = lengths > r
        out[mask] |= payload[starts[mask] + r] << np.uint64(7 * r)
    return out


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """delta(doc_ids) ‖ tfs ‖ dls, each varbyte; lengths are implicit
    (n stored in the block row; sections split by decoding n values each)."""
    deltas = np.diff(np.asarray(doc_ids, dtype=np.uint64), prepend=np.uint64(0))
    return (
        varbyte_encode(deltas)
        + varbyte_encode(np.asarray(tfs, dtype=np.uint64))
        + varbyte_encode(np.asarray(dls, dtype=np.uint64))
    )


def decode_block(payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    raw = np.frombuffer(payload, dtype=np.uint8)
    term_ends = np.flatnonzero((raw & 0x80) == 0)
    # section boundaries: after n, 2n, 3n terminal bytes
    b1 = int(term_ends[n - 1]) + 1
    b2 = int(term_ends[2 * n - 1]) + 1
    deltas = varbyte_decode(payload[:b1], n)
    tfs = varbyte_decode(payload[b1:b2], n)
    dls = varbyte_decode(payload[b2:], n)
    return np.cumsum(deltas, dtype=np.uint64), tfs, dls


BLOCKS_SCHEMA = (
    "term string, block_id int, n int, doc_id_min long, doc_id_max long,"
    " max_tf int, min_dl int, payload binary"
)
# the on-disk store: partitioned by shard (a flat table when empty)
SHARDED_BLOCKS_SCHEMA = "shard int, " + BLOCKS_SCHEMA


def blocks_from_sorted_batch(terms, doc_ids, tfs, dls, block_size: int = BLOCK_SIZE):
    """Cut a (term, doc_id)-sorted partition into block rows.
    numpy-vectorized segmentation; the only Python loop is per BLOCK
    (≥128 postings each), not per posting."""
    import pyarrow as pa

    terms = np.asarray(terms)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)

    if terms.size == 0:
        return pa.RecordBatch.from_arrays(
            [pa.array([], t) for t in [
                pa.string(), pa.int32(), pa.int32(), pa.int64(), pa.int64(),
                pa.int32(), pa.int32(), pa.binary(),
            ]],
            names=["term", "block_id", "n", "doc_id_min", "doc_id_max",
                   "max_tf", "min_dl", "payload"],
        )

    # term run boundaries
    change = np.concatenate(([True], terms[1:] != terms[:-1]))
    run_starts = np.flatnonzero(change)
    run_ends = np.concatenate((run_starts[1:], [terms.size]))

    out = {k: [] for k in [
        "term", "block_id", "n", "doc_id_min", "doc_id_max",
        "max_tf", "min_dl", "payload",
    ]}
    for rs, re_ in zip(run_starts, run_ends):
        term = terms[rs]
        bid = 0
        for s in range(rs, re_, block_size):
            e = min(s + block_size, re_)
            ids = doc_ids[s:e]
            tf = tfs[s:e]
            dl = dls[s:e]
            out["term"].append(term)
            out["block_id"].append(bid)
            out["n"].append(e - s)
            out["doc_id_min"].append(int(ids[0]))
            out["doc_id_max"].append(int(ids[-1]))
            out["max_tf"].append(int(tf.max()))
            out["min_dl"].append(int(dl.min()))
            out["payload"].append(encode_block(ids, tf, dl))
            bid += 1

    return pa.RecordBatch.from_arrays(
        [
            pa.array(out["term"], pa.string()),
            pa.array(out["block_id"], pa.int32()),
            pa.array(out["n"], pa.int32()),
            pa.array(out["doc_id_min"], pa.int64()),
            pa.array(out["doc_id_max"], pa.int64()),
            pa.array(out["max_tf"], pa.int32()),
            pa.array(out["min_dl"], pa.int32()),
            pa.array(out["payload"], pa.binary()),
        ],
        names=["term", "block_id", "n", "doc_id_min", "doc_id_max",
               "max_tf", "min_dl", "payload"],
    )


from bm25_index_tool_spark.delta_store import _locked_writer as _locked


@_locked
def build_blocks(
    spark,
    index_dir: str,
    *,
    num_shards: int | None = None,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Materialize the block format from the postings table.  Shard =
    contiguous doc_id range (num_docs/num_shards docs each) — the explicit
    salting of skewed terms: every shard holds every hot term's slice."""
    import os

    from pyspark.sql import functions as F

    from bm25_index_tool_spark import build as B

    manifest = B.load_manifest(index_dir)
    num_shards = num_shards or manifest.num_buckets
    n_docs = max(manifest.num_docs, 1)
    # FIXED-WIDTH sharding: shard = (doc_id − 1) // shard_span with the span
    # frozen at build time (persisted in blocks_meta.json).  Unlike a
    # ratio-on-num_docs scheme, shard assignment never shifts when the
    # corpus grows — incremental updates re-encode ONLY shards containing
    # changed doc_ids (update_blocks); appended docs open new shards.
    shard_span = max((n_docs + num_shards - 1) // num_shards, 1)
    from bm25_index_tool_spark import delta_store as DS

    post = DS.postings_view(
        spark, index_dir,
        B.read_table(spark, index_dir, B.POSTINGS_DIR, manifest),
    )
    sharded = post.withColumn(
        "shard", ((F.col("doc_id") - 1) / F.lit(shard_span)).cast("int")
    )

    blocks_path = os.path.join(index_dir, B.BLOCKS_DIR)
    # hash-partitioning may co-locate multiple shard values in one task
    # partition, so sort by (shard, term, doc_id) and let the encoder split
    # on shard runs — a shard never straddles partitions either way.
    encoded = (
        sharded.repartition(num_shards, "shard")
        .sortWithinPartitions("shard", "term", "doc_id")
        .select("shard", "term", "doc_id", "tf", "dl")
    )
    result = encoded.mapInArrow(_encode_with_shard, SHARDED_BLOCKS_SCHEMA)
    # block count rides the write as an Observation — no read-back job
    from pyspark.sql import Observation

    obs = Observation("blocks_metrics")
    (
        result.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(blocks_path)
    )

    n_blocks = int(obs.get["n"])
    # longest posting list — the engine auto-selection stat (wand.py
    # choose_engine): WAND pays off once lists dwarf the block size.  From
    # the (small) termstats live view, one scalar agg.  Refreshed on every
    # build_blocks; update_blocks keeps the stored value (order-of-magnitude
    # heuristic, benign staleness).
    max_df = _max_df(spark, index_dir, manifest)
    meta = {
        "num_shards": num_shards,
        "block_size": block_size,
        "n_blocks": n_blocks,
        "shard_span": shard_span,
        "max_df": int(max_df),
    }
    import json as _json

    with open(os.path.join(index_dir, "blocks_meta.json"), "w") as f:
        _json.dump(meta, f)
    B.save_manifest(index_dir, manifest)
    return meta


def _max_df(spark, index_dir: str, manifest) -> int:
    """Longest live posting list: one scalar agg over the (small) termstats
    live view."""
    from pyspark.sql import functions as F

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import delta_store as DS

    ts = DS.termstats_view(
        spark, index_dir,
        B.read_table(spark, index_dir, B.TERMSTATS_DIR, manifest),
    )
    return int(ts.agg(F.max("df")).collect()[0][0] or 0)


def _decode_to_postings(batches):
    """Inverse of the encoder: block rows → (shard, term, doc_id, tf, dl)
    posting rows.  Per-block numpy decode, no per-posting Python."""
    import pyarrow as pa

    from bm25_index_tool_spark.arrow_tokenize import _pin_arrow_threads

    _pin_arrow_threads()
    for b in batches:
        if not b.num_rows:
            continue
        shards = b.column(b.schema.get_field_index("shard")).to_pylist()
        terms = b.column(b.schema.get_field_index("term")).to_pylist()
        ns = b.column(b.schema.get_field_index("n")).to_pylist()
        payloads = b.column(b.schema.get_field_index("payload")).to_pylist()
        # per-block numpy arrays, one concatenate per batch — postings
        # themselves never pass through Python objects (Python touches
        # only the O(blocks) loop, and block size is ≥64 postings)
        id_runs, tf_runs, dl_runs = [], [], []
        counts = np.asarray(ns, dtype=np.int64)
        for n, payload in zip(ns, payloads):
            ids, tfs, dls = decode_block(payload, n)
            id_runs.append(ids)
            tf_runs.append(tfs)
            dl_runs.append(dls)
        o_id = np.concatenate(id_runs).astype(np.int64, copy=False)
        o_tf = np.concatenate(tf_runs).astype(np.int32, copy=False)
        o_dl = np.concatenate(dl_runs).astype(np.int32, copy=False)
        o_shard = np.repeat(np.asarray(shards, dtype=np.int32), counts)
        o_term = pa.DictionaryArray.from_arrays(
            pa.array(
                np.repeat(np.arange(len(terms), dtype=np.int32), counts)
            ),
            pa.array(terms, pa.string()),
        ).cast(pa.string())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(o_shard, pa.int32()),
                o_term,
                pa.array(o_id, pa.int64()),
                pa.array(o_tf, pa.int32()),
                pa.array(o_dl, pa.int32()),
            ],
            names=["shard", "term", "doc_id", "tf", "dl"],
        )


def update_blocks(
    spark,
    index_dir: str,
    delta_post,
    removed_ids,
) -> dict:
    """Delta maintenance of the block store: re-encode ONLY the shards
    containing changed doc_ids, reconstructing them from their own old
    blocks (decode → drop removed → merge delta) — IO ∝ changed shards,
    never a postings-table rescan.  Unchanged shard directories stay
    byte-identical.  The caller's manifest save publishes the change.

    ``delta_post``: (doc_id, term, tf, dl) rows of added∪modified docs
    (re-tokenized by the update); ``removed_ids``: (doc_id) of deleted ∪
    old-modified docs.
    """
    import json as _json
    import os
    import shutil

    from pyspark.sql import functions as F

    from bm25_index_tool_spark import build as B

    meta_path = os.path.join(index_dir, "blocks_meta.json")
    with open(meta_path) as f:
        meta = _json.load(f)
    span = meta["shard_span"]

    blocks_path = os.path.join(index_dir, B.BLOCKS_DIR)

    shard_of = lambda c: ((F.col(c) - 1) / F.lit(span)).cast("int")  # noqa: E731
    changed = sorted(
        {
            r["s"]
            for r in removed_ids.select(shard_of("doc_id").alias("s"))
            .unionByName(delta_post.select(shard_of("doc_id").alias("s")))
            .distinct()
            .collect()
        }
    )
    if not changed:
        return meta

    old_blocks = spark.read.schema(SHARDED_BLOCKS_SCHEMA).parquet(blocks_path)
    old_changed = old_blocks.where(F.col("shard").isin(changed))
    n_old_changed = old_changed.count()  # partition-pruned, footer-only
    old_posts = old_changed.mapInArrow(
        _decode_to_postings,
        "shard int, term string, doc_id long, tf int, dl int",
    ).drop("shard")
    merged = (
        old_posts.join(removed_ids, "doc_id", "left_anti")
        .unionByName(delta_post.select("term", "doc_id", "tf", "dl"))
        .withColumn("shard", shard_of("doc_id"))
    )
    tmp = blocks_path.rstrip("/") + ".update-tmp"
    encoded = (
        merged.repartition(len(changed), "shard")
        .sortWithinPartitions("shard", "term", "doc_id")
        .select("shard", "term", "doc_id", "tf", "dl")
    )
    result = encoded.mapInArrow(_encode_with_shard, SHARDED_BLOCKS_SCHEMA)
    result.write.mode("overwrite").partitionBy("shard").parquet(tmp)
    n_new_changed = spark.read.schema(SHARDED_BLOCKS_SCHEMA).parquet(tmp).count()
    # swap changed shard dirs — every shard in tmp is in `changed` by
    # construction (tmp holds old_changed minus removed, plus delta, and
    # `changed` was derived from the same doc_id→shard expression).  An
    # emptied store keeps no shard dir; read with its declared schema it is
    # an empty table.
    for v in sorted(set(changed)):
        live = os.path.join(blocks_path, f"shard={v}")
        fresh = os.path.join(tmp, f"shard={v}")
        if os.path.exists(live):
            shutil.rmtree(live)
        if os.path.exists(fresh):
            os.replace(fresh, live)
    shutil.rmtree(tmp, ignore_errors=True)

    meta["n_blocks"] = meta["n_blocks"] - n_old_changed + n_new_changed
    # refresh max_df (the choose_engine auto-selection stat) from the
    # (small) termstats live view — one scalar agg, same as build_blocks.
    # Without this, append-only ingest could grow the hottest posting list
    # far past the WAND threshold while auto stays on 'join' forever
    # (ADVICE r04: the staleness was unbounded, not order-of-magnitude).
    meta["max_df"] = _max_df(spark, index_dir, B.load_manifest(index_dir))
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    return meta


def _encode_with_shard(batches):
    import pyarrow as pa

    from bm25_index_tool_spark.arrow_tokenize import _pin_arrow_threads

    _pin_arrow_threads()
    acc = [b for b in batches if b.num_rows]
    if not acc:
        return
    tbl = pa.Table.from_batches(acc).combine_chunks()
    shards = tbl.column("shard").to_numpy(zero_copy_only=False)
    terms = tbl.column("term").to_numpy(zero_copy_only=False)
    doc_ids = tbl.column("doc_id").to_numpy(zero_copy_only=False)
    tfs = tbl.column("tf").to_numpy(zero_copy_only=False)
    dls = tbl.column("dl").to_numpy(zero_copy_only=False)
    # split on shard runs (input sorted by shard, term, doc_id)
    change = np.concatenate(([0], np.flatnonzero(shards[1:] != shards[:-1]) + 1, [len(shards)]))
    for i in range(len(change) - 1):
        s, e = int(change[i]), int(change[i + 1])
        rb = blocks_from_sorted_batch(terms[s:e], doc_ids[s:e], tfs[s:e], dls[s:e])
        shard_col = pa.array(np.full(rb.num_rows, shards[s], dtype=np.int32))
        yield pa.RecordBatch.from_arrays(
            [shard_col] + [rb.column(j) for j in range(rb.num_columns)],
            names=["shard"] + rb.schema.names,
        )
