"""The single-query scorer at its Spark job floor.

Invariants under test:
* a cache-miss search runs at most 4 Spark jobs for a multi-term query and
  at most 3 for a one-term query on a static index, and at most 6 and 5
  after two append updates: the final sort is a top-k
  (TakeOrderedAndProject, no range-partitioning Exchange and its sampling
  job), and a one-term query is not aggregated (no hash Exchange);
* the live postings view holds one row per (term, doc_id) after every
  writer (create, append, upsert, tiered merge, full compaction) — the
  one-term shape and the multi-term ``HAVING count(*) = n`` both rest on it;
* one-term queries stay FTS5-identical on a static index and on one with
  segments and tombstones: a duplicated token, a df=N term (idf clamped to
  1e-6), a term with no postings and ``top_k=0``.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark import delta_store as DS
from bm25_index_tool_spark.client import BM25SparkClient
from bm25_index_tool_spark.score import score_query
from tests.oracle import FTS5Oracle

# every doc carries OMNI, so its df is N and its idf clamps to 1e-6
OMNI = "omniterm"
ONE_TERM = [OMNI, f"{OMNI} {OMNI}", "apple", "zanzibar", "xylograph", "qqqabsent"]
MULTI_TERM = ["apple banana", f"{OMNI} data"]


def _base_rows():
    return [
        (r[0], r[1], r[2], r[3], f"{OMNI} {r[4]}")
        for r in C.generate_rows(40, seed=77)
    ]


def _wave(rows, i):
    """Update wave ``i``: deletes one doc, edits three (the edit repeats the
    df=N term and adds a segment-only term), adds one."""
    out = [
        (r[0], r[1], r[2], r[3], f"{r[4]} {OMNI} xylograph") if j % 13 == i else r
        for j, r in enumerate(rows[1:])
    ]
    new = C.generate_rows(41 + i, seed=77)[40 + i]
    return out + [(new[0], new[1], new[2], new[3], f"{OMNI} {new[4]}")]


def _frame(spark, rows):
    return spark.createDataFrame(rows, C.CORPUS_SCHEMA)


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A static index and one with two append segments and tombstones,
    with the corpus each one holds."""
    client = BM25SparkClient(spark, str(tmp_path_factory.mktemp("plan")))
    rows = _base_rows()
    client.create_index("static", _frame(spark, rows), num_buckets=4)
    client.create_index("seg", _frame(spark, rows), num_buckets=4)
    for i in range(2):
        rows = _wave(rows, i)
        client.update_index("seg", _frame(spark, rows))
    assert DS.segment_ids(client._index_dir("seg")) == [1, 2]
    return client, {"static": _base_rows(), "seg": rows}


def _jobs(spark, fn) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    fn()
    return dag.nextJobId() - j0


def _executed_plan(df) -> str:
    df.collect()  # AQE finalises the plan only once it has run
    return df._jdf.queryExecution().executedPlan().toString().lower()


@pytest.mark.parametrize(
    "name, multi_max, one_max", [("static", 4, 3), ("seg", 6, 5)]
)
def test_search_runs_at_its_job_floor(spark, indexes, name, multi_max, one_max):
    client, _rows = indexes
    for q, most in (
        ("apple banana", multi_max), (f"{OMNI} data", multi_max),
        ("apple", one_max), (f"{OMNI} {OMNI}", one_max),
    ):
        n = _jobs(spark, lambda: client.search(name, q, 5, use_cache=False))
        assert n <= most, (name, q, n)
    idx = client._require(name)
    multi, one = (
        _executed_plan(score_query(idx, q, 5, include_content=False))
        for q in ("apple banana", "apple")
    )
    for plan in (multi, one):
        assert "takeorderedandproject" in plan
        assert "rangepartitioning" not in plan
    if name == "static":
        # the live view of a static index is its base scan: a one-term
        # query shuffles nothing at all
        assert "hashpartitioning" not in one


def _oracle_in_doc_id_order(client, name, rows) -> FTS5Oracle:
    """The FTS5 oracle over ``rows`` inserted in the index's doc_id order,
    so its rowid tie-break is the engine's doc_id tie-break also after
    updates have given edited and added docs new ids."""
    ids = {
        r["full_path"]: r["doc_id"]
        for r in client._require(name).docs().select("full_path", "doc_id").collect()
    }
    oracle = FTS5Oracle()
    oracle.add_documents(sorted(rows, key=lambda r: ids[f"{r[0]}/{r[1]}"]))
    return oracle


@pytest.mark.parametrize("name", ["static", "seg"])
def test_one_term_queries_match_fts5(indexes, name):
    client, rows = indexes
    oracle = _oracle_in_doc_id_order(client, name, rows[name])
    for q in ONE_TERM + MULTI_TERM:
        for k in (0, 10):
            got = client.search(name, q, k, use_cache=False)
            exp = oracle.search_bm25(q, top_k=k)
            assert [g["path"] for g in got] == [e[1] for e in exp], (q, k)
            for g, e in zip(got, exp):
                assert math.isclose(g["score"], e[4], rel_tol=1e-9), (q, g, e)
    omni = client.search(name, OMNI, 100, use_cache=False)
    assert len(omni) == len(rows[name])  # df = N
    assert all(0 < r["score"] < 1e-5 for r in omni)  # idf clamped to 1e-6
    dup = client.search(name, f"{OMNI} {OMNI}", 100, use_cache=False)
    assert [r["score"] for r in dup] == [2 * r["score"] for r in omni]


def _duplicate_postings(client, name) -> int:
    post = client._require(name).postings()
    assert post.count() > 0
    return post.groupBy("term", "doc_id").count().where(F.col("count") > 1).count()


def test_postings_hold_one_row_per_term_and_doc_after_every_writer(
    spark, tmp_path
):
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index("a", _frame(spark, rows), num_buckets=4)
    idx_dir = client._index_dir("a")
    assert _duplicate_postings(client, "a") == 0, "create"
    rows = _wave(rows, 0)
    client.update_index("a", _frame(spark, rows))
    assert _duplicate_postings(client, "a") == 0, "append"
    # upsert: re-edit a doc the segment already holds, and add one
    batch = [(r[0], r[1], r[2], r[3], r[4] + " upserted") for r in rows[-2:]]
    batch.append(("rz", "src/up/new.txt", "c9", "txt", f"{OMNI} fresh"))
    DS.apply_update_append(spark, idx_dir, _frame(spark, batch), mode="upsert")
    assert _duplicate_postings(client, "a") == 0, "upsert"
    assert client.compact_index("a", tiered=True) == 2
    assert _duplicate_postings(client, "a") == 0, "tiered merge"
    assert client.compact_index("a") >= 1
    assert not DS.has_segments(idx_dir)
    assert _duplicate_postings(client, "a") == 0, "full compaction"
