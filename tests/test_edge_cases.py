"""Edge cases: empty corpus, single doc, duplicate paths, huge top_k on
tiny index, queries against empty indices."""

from __future__ import annotations

import math
import os

import pytest

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark.client import BM25SparkClient
from bm25_index_tool_spark.score import LoadedIndex, score_query
from tests.oracle import FTS5Oracle


def flat_stand_ins(index_dir):
    """Flat ``*.parquet`` files directly in a base table's or the block
    store's dir.  An empty table is a dir with no data file, read with its
    declared schema — never a flat empty-table stand-in."""
    return [
        os.path.join(sub, n)
        for sub in (B.DOCS_DIR, B.POSTINGS_DIR, B.TERMSTATS_DIR, B.BLOCKS_DIR)
        if os.path.isdir(os.path.join(index_dir, sub))
        for n in os.listdir(os.path.join(index_dir, sub))
        if n.endswith(".parquet")
    ]


def test_single_doc_index(spark, tmp_path):
    rows = [("r/a", "src/only.py", "c" * 40, "python", "apple banana apple")]
    df = spark.createDataFrame(rows, C.CORPUS_SCHEMA)
    d = str(tmp_path / "one")
    m = B.build_index(spark, df, d, num_buckets=2)
    assert m.num_docs == 1
    idx = LoadedIndex.open(spark, d)
    res = score_query(idx, "apple", 10).collect()
    assert len(res) == 1 and res[0]["doc_id"] == 1
    # N=1, df=1 → idf = ln(0.5/1.5) < 0 → clamp → tiny positive score
    assert 0 < res[0]["score"] < 1e-5
    assert score_query(idx, "missing", 10).count() == 0


# every doc tokenizes to nothing: no token in repo, path, filename or content
ZERO_TOKEN_ROWS = [
    ("_", "-" * (i + 1), "c" * 40, "text", "!!! ... --- ???") for i in range(3)
]


def test_empty_corpus_build_and_query(spark, tmp_path):
    """An empty corpus, and one whose every doc tokenizes to nothing (docs
    but no postings), build to empty tables with no flat stand-in and
    answer nothing; an append of a real doc, and a full compaction after
    it, then match the FTS5 oracle."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    real = ("r/a", "src/real.py", "c" * 40, "python", "apple banana apple")
    for name, rows in (("empty", []), ("notokens", ZERO_TOKEN_ROWS)):
        m = client.create_index(
            name, spark.createDataFrame(rows, C.CORPUS_SCHEMA),
            num_buckets=2, build_block_engine=True,
        )
        assert (m.num_docs, m.total_tokens, m.avgdl) == (len(rows), 0, 0.0)
        d = client._index_dir(name)
        assert flat_stand_ins(d) == [], name
        idx = LoadedIndex.open(spark, d)
        assert score_query(idx, "anything", 5).count() == 0
        for engine in ("join", "blocks"):
            got = client.search(name, "apple", engine=engine, use_cache=False)
            assert got == [], (name, engine)

        cur = rows + [real]
        oracle = FTS5Oracle()
        oracle.add_documents(C.ordered_rows(cur))
        client.update_index(name, spark.createDataFrame(cur, C.CORPUS_SCHEMA))
        for step in ("append", "compact"):
            if step == "compact":
                client.compact_index(name)
                assert flat_stand_ins(d) == [], name
            for q in ("apple", "banana apple", "missing"):
                got = client.search(name, q, top_k=5, use_cache=False)
                exp = oracle.search_bm25(q, top_k=5)
                assert [r["path"] for r in got] == [e[1] for e in exp], (name, step, q)
                for g, e in zip(got, exp):
                    assert math.isclose(g["score"], e[4], rel_tol=1e-9), (name, step, q)


def test_duplicate_paths_validation(spark, tmp_path):
    rows = [
        ("r/a", "src/x.py", "c" * 40, "python", "one"),
        ("r/a", "src/x.py", "d" * 40, "python", "two"),
    ]
    df = spark.createDataFrame(rows, C.CORPUS_SCHEMA)
    with pytest.raises(ValueError, match="Duplicate document path"):
        B.build_index(
            spark, df, str(tmp_path / "dup"), num_buckets=2,
            validate_unique_paths=True,
        )


def test_topk_larger_than_corpus(spark, small_index, oracle):
    got = score_query(small_index, "the", 10_000).collect()
    exp = oracle.search_bm25("the", 10_000)
    assert [r["doc_id"] for r in got] == [e[0] for e in exp]
