"""THE correctness gate (BASELINE.md): top-k rank identity vs SQLite FTS5.

For every query in the reference query set, our Spark engine must return the
identical ordered doc_id list AND identical BM25 scores (rel tol 1e-9) as
the FTS5 differential oracle running the reference's verbatim search path on
the same corpus in the same insertion order — plus per-row sha256(content)
equality vs the source (BASELINE.json per-row invariant)."""

from __future__ import annotations

import hashlib
import math

import pytest

from bm25_index_tool_spark.score import (
    score_query,
    score_query_batch,
    score_stage_frames,
    score_tokens,
)
from tests.conftest import QUERY_SET

SEARCHABLE = [q for q in QUERY_SET]


@pytest.mark.parametrize("query", SEARCHABLE)
def test_rank_identity(small_index, oracle, query):
    expected = oracle.search_bm25(query, top_k=10)
    got = score_query(small_index, query, top_k=10).collect()

    exp_ids = [r[0] for r in expected]
    got_ids = [r["doc_id"] for r in got]
    assert got_ids == exp_ids, f"doc_id mismatch for {query!r}"

    for erow, grow in zip(expected, got):
        assert math.isclose(erow[4], grow["score"], rel_tol=1e-9), (
            f"score mismatch for {query!r} doc {erow[0]}: "
            f"oracle={erow[4]!r} spark={grow['score']!r}"
        )
        assert grow["path"] == erow[1]
        assert grow["filename"] == erow[2]
        # per-row invariant: sha256(content) equality vs source
        assert (
            grow["content_sha256"]
            == hashlib.sha256(erow[3].encode()).hexdigest()
        )


def test_rank_identity_large_topk(small_index, oracle):
    """top_k beyond the match count — full ranking identity."""
    q = "data value"
    expected = oracle.search_bm25(q, top_k=500)
    got = score_query(small_index, q, top_k=500).collect()
    assert [r["doc_id"] for r in got] == [r[0] for r in expected]
    for e, g in zip(expected, got):
        assert math.isclose(e[4], g["score"], rel_tol=1e-9)


def test_rank_identity_with_zero_token_docs(spark, tmp_path):
    """FTS5 computes avgdl = total_tokens / nRow over ALL rows — documents
    that tokenize to zero tokens (punctuation-only path+content) still count
    in the denominator.  A mean over only docs-with-postings diverges here
    (ADVICE r01); this corpus forces the difference to show in scores."""
    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.score import LoadedIndex
    from tests.oracle import FTS5Oracle

    rows = [
        ("repo", "a/apple.md", "c1", "md", "apple banana cherry apple"),
        ("repo", "a/banana.md", "c1", "md", "banana banana apple"),
        ("repo", "b/cherry.md", "c1", "md", "cherry apple"),
        # zero-token document: repo/path/filename/content all fold to
        # nothing under unicode61 (underscore and punctuation = separators)
        ("_", "__.__", "c1", "md", "!!! ??? ..."),
        # punctuation-only content — path tokens still index, dl is tiny
        ("repo", "b/dots.md", "c1", "md", "... --- !!!"),
    ]
    df = spark.createDataFrame(rows, C.CORPUS_SCHEMA)
    idx_dir = str(tmp_path / "idx_empty")
    m = B.build_index(spark, df, idx_dir, num_buckets=4)
    assert m.num_docs == 5

    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(rows))
    idx = LoadedIndex.open(spark, idx_dir)
    for q in ("apple", "banana apple", "cherry", "md"):
        expected = oracle.search_bm25(q, top_k=10)
        got = score_query(idx, q, top_k=10).collect()
        assert [r["doc_id"] for r in got] == [e[0] for e in expected], q
        for e, g in zip(expected, got):
            assert math.isclose(e[4], g["score"], rel_tol=1e-9), (q, e, g)


@pytest.mark.parametrize("query", ["apple", "data value", "apple apple"])
def test_stage_frames_full_is_the_scorer(small_index, query):
    """bench.py's query_stage_* frames are cut from the scorer's own
    statement: the full stage collects to exactly score_query's rows."""
    stages = score_stage_frames(small_index, query, 10)
    got = stages["full"].collect()
    assert got == score_query(small_index, query, 10, include_content=False).collect()
    assert got


@pytest.mark.parametrize(
    "tokens",
    [
        ["o'neil", "back\\slash", "semi;colon"],
        ["{post}", ":t0"],
        ["apple", "x' OR '1'='1"],
    ],
)
def test_tokens_are_bound_not_formatted(small_index, tokens):
    """Query terms reach the scorer's SQL statement as bound parameters:
    quotes, backslashes, semicolons, braces and marker-like text match
    nothing and never break the statement."""
    assert score_tokens(small_index, tokens).collect() == []


def test_empty_query_raises(small_index):
    with pytest.raises(ValueError):
        score_query(small_index, "---", top_k=10)


def test_batch_matches_single(small_index, oracle):
    """Set-at-a-time batch plan must agree with both the single-query plan
    and the oracle, with deterministic (query_id, rank) output order."""
    queries = ["apple", "kubernetes networking", "zzz_not_present", "---", "the"]
    batch = score_query_batch(small_index, queries, top_k=10).collect()
    by_qid: dict[int, list] = {}
    for r in batch:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(queries):
        rows = by_qid.get(qid, [])
        try:
            expected = oracle.search_bm25(q, top_k=10)
        except ValueError:
            expected = []
        assert [r["doc_id"] for r in rows] == [e[0] for e in expected], q
        for e, g in zip(expected, rows):
            assert math.isclose(e[4], g["score"], rel_tol=1e-9)
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_batch_literal_and_join_paths_identical(small_index, monkeypatch):
    """The batch scorer has two plan shapes — plan-literal query metadata
    for interactive batches, a broadcast qterms join past
    _BATCH_LITERAL_MAX entries (literals must not scale with batch size).
    Force each path on the same batch and require identical rows,
    including duplicate tokens (q_mult > 1) and a repeated term across
    queries at different multiplicities."""
    from bm25_index_tool_spark import score as S

    queries = ["apple", "apple apple banana", "the data", "banana apple"]

    def rows_of(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["query"], r["path"],
             round(r["score"], 12))
            for r in df.collect()
        )

    lit_rows = rows_of(score_query_batch(small_index, queries, top_k=10))
    monkeypatch.setattr(S, "_BATCH_LITERAL_MAX", 0)
    join_rows = rows_of(score_query_batch(small_index, queries, top_k=10))
    assert lit_rows == join_rows and lit_rows
