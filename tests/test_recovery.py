"""Update-path guards that sit beside the commit protocol: duplicate
paths in an update corpus are rejected before anything is staged, and a
search whose plan was built just before a full compaction swapped the base
directories retries against the committed state.

The crash windows of the update commit itself are in test_delta_store.py
(``test_append_crash_rolls_forward``).
"""

from __future__ import annotations

import math

import pytest

from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark.client import BM25SparkClient
from tests.oracle import FTS5Oracle

N0 = 50


def _base_rows():
    return C.generate_rows(N0, seed=77)


def _delta_rows():
    rows = _base_rows()
    out = []
    for i, r in enumerate(rows):
        if i < 3:  # deleted
            continue
        if 5 <= i < 9:  # modified
            out.append((r[0], r[1], r[2], r[3], r[4] + " xylophone crashed"))
        else:
            out.append(r)
    out.extend(C.generate_rows(N0 + 4, seed=77)[N0:])  # 4 added
    return out


def test_duplicate_full_path_rejected(spark, tmp_path):
    client = BM25SparkClient(spark, str(tmp_path / "root_dup"))
    client.create_index(
        "r", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=4
    )
    rows = _delta_rows()
    # two ADDED rows for one brand-new path (the case that would mint two
    # doc_ids for one full_path)
    dup = rows + [
        ("rx", "brand/new.txt", "c1", "txt", "first drop"),
        ("rx", "brand/new.txt", "c2", "txt", "second drop"),
    ]
    with pytest.raises(ValueError, match="duplicate full_path"):
        client.update_index("r", spark.createDataFrame(dup, C.CORPUS_SCHEMA))
    # two MODIFIED rows (same stored path, two conflicting new contents)
    dup2 = rows[1:] + [
        (rows[0][0], rows[0][1], "c3", rows[0][3], "conflicting edit one"),
        (rows[0][0], rows[0][1], "c4", rows[0][3], "conflicting edit two"),
    ]
    with pytest.raises(ValueError, match="duplicate full_path"):
        client.update_index("r", spark.createDataFrame(dup2, C.CORPUS_SCHEMA))


def test_search_retries_across_compaction_base_swap(
    spark, tmp_path, monkeypatch
):
    """A reader whose scan plan was built (files listed) just before a FULL
    compaction swaps the base directories must not surface Spark's
    FileNotFoundException — the client drops the handle, re-resolves the
    committed state, and retries (README 'concurrency'; the race window the
    tiered merge only shrinks).  Replays the exact interleaving: plan built
    pre-swap, out-of-band writer compacts, job executes post-swap."""
    from bm25_index_tool_spark import client as client_mod

    root = str(tmp_path / "root_race")
    c = BM25SparkClient(spark, root)
    rows = _base_rows()
    c.create_index(
        "race", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    # update → outstanding segment, so compaction has base swaps to perform
    c.update_index(
        "race", spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    )

    real_score = client_mod.score_query
    state = {"raced": False}

    def racing(idx, query, top_k, **kw):
        df = real_score(idx, query, top_k, **kw)
        if not state["raced"]:
            state["raced"] = True
            # out-of-band writer (second client = second "process") folds
            # the segments and swaps the base dirs while our plan is live
            BM25SparkClient(spark, root).compact_index("race")
        return df

    monkeypatch.setattr(client_mod, "score_query", racing)
    drops: list[str] = []
    orig_drop = c._drop_open
    monkeypatch.setattr(
        c, "_drop_open", lambda n: (drops.append(n), orig_drop(n))[1]
    )

    got = c.search("race", "data value", top_k=10, use_cache=False)
    assert state["raced"]
    # the initial _require contributes one drop; the stale-scan retry adds
    # its own drop plus the reopen's — anything less means the swap never
    # actually failed the scan (race not reproduced)
    assert len(drops) >= 2, drops
    # survived the swap AND returned the committed post-compaction answer
    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(_delta_rows()))
    exp = oracle.search_bm25("data value", top_k=10)
    assert [r["path"] for r in got] == [e[1] for e in exp]
    for g, e in zip(got, exp):
        assert math.isclose(g["score"], e[4], rel_tol=1e-9)
