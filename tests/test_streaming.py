"""Structured-Streaming ingestion: drop-dir micro-batches merge into the
index via the true-delta upsert path; replaying the same files is a no-op
(content-addressed merge ⇒ effective exactly-once)."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark.score import LoadedIndex, score_query
from bm25_index_tool_spark.streaming import stream_index_updates
from tests.oracle import FTS5Oracle

N0 = 40
COLS = ["repo", "path", "commit", "lang", "content"]


def _write_wave(dir_, name, rows):
    arrays = {c: [r[i] for r in rows] for i, c in enumerate(COLS)}
    pq.write_table(pa.table(arrays), os.path.join(dir_, name))


def test_stream_ingest_merges_and_replays(spark, tmp_path):
    base = C.generate_rows(N0, seed=23)
    idx_dir = str(tmp_path / "idx")
    B.build_index(
        spark,
        spark.createDataFrame(base, C.CORPUS_SCHEMA),
        idx_dir,
        num_buckets=4,
    )

    # wave 1: 6 brand-new docs; wave 2: modified copies of 4 base docs —
    # path-disjoint waves, so micro-batch order cannot change the outcome
    wave1 = C.generate_rows(N0 + 6, seed=23)[N0:]
    wave2 = [
        (r[0], r[1], r[2], r[3], r[4] + " streamed zanzibar")
        for r in base[:4]
    ]
    src = tmp_path / "drop"
    src.mkdir()
    _write_wave(str(src), "wave1.parquet", wave1)
    _write_wave(str(src), "wave2.parquet", wave2)

    ckpt = str(tmp_path / "ckpt")
    q = stream_index_updates(
        spark, idx_dir, str(src), checkpoint_dir=ckpt,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    # one micro-batch per file (maxFilesPerTrigger=1)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2

    final = {(r[0], r[1]): r for r in base}
    for r in wave1 + wave2:
        final[(r[0], r[1])] = r
    final_rows = list(final.values())

    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(final_rows))

    index = LoadedIndex.open(spark, idx_dir)
    for query in ["zanzibar", "data value", "apple"]:
        got = score_query(index, query, 10, include_content=False).collect()
        exp = oracle.search_bm25(query, top_k=10)
        assert [r["path"] for r in got] == [e[1] for e in exp], query
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[4], rel_tol=1e-9), query

    m1 = B.load_manifest(idx_dir)
    assert m1.num_docs == len(final_rows)

    # replay: fresh checkpoint ⇒ both files re-delivered; the content-
    # addressed update must produce an empty diff (index unchanged)
    q2 = stream_index_updates(
        spark, idx_dir, str(src),
        checkpoint_dir=str(tmp_path / "ckpt2"), available_now=True,
    )
    q2.awaitTermination(300)
    m2 = B.load_manifest(idx_dir)
    assert (m2.num_docs, m2.total_tokens) == (m1.num_docs, m1.total_tokens)
    got2 = score_query(index, "zanzibar", 10, include_content=False).collect()
    assert [r["path"] for r in got2] == [
        e[1] for e in oracle.search_bm25("zanzibar", top_k=10)
    ]


def test_within_batch_dedup_keeps_newest(spark, tmp_path):
    """ADVICE r02: one micro-batch carrying two rows for the same path
    (the path present in two dropped files) must apply exactly one row —
    the newest by source-file modification time — and mint one doc_id."""
    base = C.generate_rows(20, seed=31)
    idx_dir = str(tmp_path / "idx")
    B.build_index(
        spark,
        spark.createDataFrame(base, C.CORPUS_SCHEMA),
        idx_dir,
        num_buckets=4,
    )

    newrow_old = ("rz", "dup/conflict.txt", "c1", "txt", "older quokka draft")
    newrow_new = ("rz", "dup/conflict.txt", "c2", "txt", "newer wombat final")
    src = tmp_path / "drop"
    src.mkdir()
    _write_wave(str(src), "a_old.parquet", [newrow_old])
    _write_wave(str(src), "b_new.parquet", [newrow_new])
    # pin mtimes 1h apart so file_modification_time ordering is unambiguous
    import time as _t

    now = _t.time()
    os.utime(os.path.join(str(src), "a_old.parquet"), (now - 3600, now - 3600))
    os.utime(os.path.join(str(src), "b_new.parquet"), (now, now))

    q = stream_index_updates(
        spark, idx_dir, str(src),
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )  # no maxFilesPerTrigger → both files in ONE micro-batch
    q.awaitTermination(300)
    # (numInputRows over-counts: each action inside foreachBatch re-reads
    # the source — assert only that ONE micro-batch carried the rows)
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 1

    m = B.load_manifest(idx_dir)
    assert m.num_docs == len(base) + 1  # one doc, not two

    index = LoadedIndex.open(spark, idx_dir)
    docs = index.docs().where("path = 'dup/conflict.txt'").collect()
    assert len(docs) == 1
    assert score_query(index, "wombat", 5).collect()  # newest content won
    assert not score_query(index, "quokka", 5).collect()  # older row dropped
    # no ghost postings for a phantom second doc_id
    ghosts = (
        index.postings().select("doc_id").distinct()
        .join(index.docs().select("doc_id"), "doc_id", "left_anti")
    )
    assert ghosts.count() == 0


def test_stream_ingest_refreshes_vector_store(spark, tmp_path):
    """Streaming micro-batches flow through the append path, which also
    refreshes the chunk-vector store — streamed content is semantically
    searchable without any rebuild."""
    from bm25_index_tool_spark.client import BM25SparkClient

    base = C.generate_rows(15, seed=37)
    root = str(tmp_path / "root")
    client = BM25SparkClient(spark, root)
    client.create_index(
        "s", spark.createDataFrame(base, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    idx_dir = client._index_dir("s")

    streamed = ("rs", "landed/new.txt", "c1", "txt",
                "peregrine solstice ledger")
    src = tmp_path / "drop"
    src.mkdir()
    _write_wave(str(src), "w.parquet", [streamed])
    q = stream_index_updates(
        spark, idx_dir, str(src),
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(300)

    client._open.pop("s", None)
    top = client.search_semantic("s", "peregrine solstice ledger", top_k=1)[0]
    assert top["path"] == "rs/landed/new.txt"
    assert abs(top["score"] - 1.0) < 1e-6
    # BM25 side sees it too
    got = client.search("s", "peregrine", top_k=3, use_cache=False)
    assert got and got[0]["path"] == "rs/landed/new.txt"
