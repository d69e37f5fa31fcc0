"""Incremental update (FIXTURES.md §6) + client API surface + filters/
fragments/cache/history behavioral tests."""

from __future__ import annotations

import math

import pytest

from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark.client import BM25SparkClient
from bm25_index_tool_spark.filters import PathFilter
from bm25_index_tool_spark.fragments import extract_fragments
from bm25_index_tool_spark.incremental import detect_changes
from tests.oracle import FTS5Oracle


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    return BM25SparkClient(spark, str(tmp_path_factory.mktemp("client_root")))


N0 = 60


def _base_rows():
    return C.generate_rows(N0, seed=11)


def _delta_rows():
    """5 added, 5 modified, 5 deleted (deterministic)."""
    rows = _base_rows()
    deleted = {(r[0], r[1]) for r in rows[:5]}
    out = []
    for i, r in enumerate(rows):
        if (r[0], r[1]) in deleted:
            continue
        if 10 <= i < 15:  # modified
            out.append((r[0], r[1], r[2], r[3], r[4] + " zanzibar modified"))
        else:
            out.append(r)
    extra = C.generate_rows(N0 + 5, seed=11)[N0:]  # 5 added
    out.extend(extra)
    return out


def test_detect_changes(spark, client):
    cur_rows = _delta_rows()
    client.create_index(
        "inc", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=4
    )
    idx = client._require("inc")
    cs = detect_changes(
        spark.createDataFrame(cur_rows, C.CORPUS_SCHEMA), idx.docs()
    )
    assert cs.counts() == {"added": 5, "modified": 5, "deleted": 5}


def test_incremental_equals_rebuild(spark, client, tmp_path):
    """Post-update index answers queries identically to a from-scratch
    build on the new corpus AND to the FTS5 oracle on the new corpus
    (doc ids may differ from a fresh build — scores and paths must not)."""
    cur_rows = _delta_rows()
    client.update_index("inc", spark.createDataFrame(cur_rows, C.CORPUS_SCHEMA))

    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(cur_rows))

    for q in ["zanzibar", "data value", "apple"]:
        got = client.search("inc", q, top_k=10, use_cache=False)
        exp = oracle.search_bm25(q, top_k=10)
        assert [r["path"] for r in got] == [e[1] for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[4], rel_tol=1e-9), q


def _dir_file_hashes(root):
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            with open(p, "rb") as f:
                out[rel] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_incremental_touches_only_changed_buckets(spark, tmp_path):
    """VERDICT r01 #2 'done' criteria: after an incremental update,
    (a) parquet files of postings/termstats buckets not containing delta or
    removed terms are BYTE-IDENTICAL, (b) docs partitions without changed
    doc_ids are byte-identical, and (c) only delta docs enter the tokenizer."""
    import os

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import incremental as I
    from bm25_index_tool_spark.murmur import term_bucket
    from bm25_index_tool_spark.tokenize import _tokenize_series

    import pandas as pd

    nb = 32
    words = [f"w{chr(97 + i)}x" for i in range(30)]
    base = [
        ("r", f"a/d{i}.txt", "c1", "txt", f"{words[i]} hello")
        for i in range(30)
    ]
    # delta: delete d7, modify d9, add d30
    cur = [
        r for r in base if r[1] != "a/d7.txt" and r[1] != "a/d9.txt"
    ]
    modified = ("r", "a/d9.txt", "c1", "txt", "zulu hello")
    added = ("r", "a/d30.txt", "c1", "txt", "yankee hello")
    cur += [modified, added]

    idx_dir = str(tmp_path / "sel")
    B.build_index(
        spark,
        spark.createDataFrame(base, C.CORPUS_SCHEMA),
        idx_dir,
        num_buckets=nb,
    )
    before_post = _dir_file_hashes(os.path.join(idx_dir, B.POSTINGS_DIR))
    before_ts = _dir_file_hashes(os.path.join(idx_dir, B.TERMSTATS_DIR))
    before_docs = _dir_file_hashes(os.path.join(idx_dir, B.DOCS_DIR))

    # spy: count rows entering the tokenizer during the update
    from bm25_index_tool_spark import arrow_tokenize as AT

    real = AT.doc_term_freqs
    seen = []

    def spy(df, text_expr, id_col="doc_id", profile="unicode61"):
        seen.append(df.count())
        return real(df, text_expr, id_col, profile)

    AT.doc_term_freqs = spy
    try:
        m = I.apply_update(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            strategy="merge",  # this test pins the merge path's invariants
        )
    finally:
        AT.doc_term_freqs = real
    assert seen == [2], "exactly the 2 delta docs (modified+added) tokenized"
    assert m.num_docs == 30  # 30 - 1 deleted + 1 added

    # expected changed term-buckets: terms of delta docs (new content) and
    # of removed docs (deleted + modified OLD content)
    def fts_terms(row):
        text = f"{row[0]}/{row[1]} {row[1].rsplit('/', 1)[-1]} {row[4]}"
        return set(_tokenize_series(pd.Series([text])).iloc[0])

    changed_terms = (
        fts_terms(modified)
        | fts_terms(added)
        | fts_terms(base[7])
        | fts_terms(base[9])
    )
    changed_buckets = {f"bucket={term_bucket(t, nb)}" for t in changed_terms}
    after_post = _dir_file_hashes(os.path.join(idx_dir, B.POSTINGS_DIR))
    after_ts = _dir_file_hashes(os.path.join(idx_dir, B.TERMSTATS_DIR))

    untouched = 0
    for rel, h in before_post.items():
        bucket = rel.split(os.sep)[0]
        if bucket not in changed_buckets:
            assert after_post.get(rel) == h, f"postings {rel} rewritten"
            untouched += 1
    assert untouched >= 3, "fixture must leave several buckets untouched"
    for rel, h in before_ts.items():
        bucket = rel.split(os.sep)[0]
        if bucket not in changed_buckets:
            assert after_ts.get(rel) == h, f"termstats {rel} rewritten"

    # docs partitions: ids 8 (deleted d7) / 10 (modified d9) / 31 (added)
    changed_pts = {"doc_pt=8", "doc_pt=10", "doc_pt=31"}
    after_docs = _dir_file_hashes(os.path.join(idx_dir, B.DOCS_DIR))
    for rel, h in before_docs.items():
        pt = rel.split(os.sep)[0]
        if pt not in changed_pts:
            assert after_docs.get(rel) == h, f"docs {rel} rewritten"

    # and the updated index answers identically to the FTS5 oracle
    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(cur))
    from bm25_index_tool_spark.score import LoadedIndex, score_query

    idx = LoadedIndex.open(spark, idx_dir)
    for q in ("hello", "zulu", "yankee"):
        exp = oracle.search_bm25(q, top_k=10)
        got = score_query(idx, q, top_k=10).collect()
        assert [r["path"] for r in got] == [e[1] for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[4], rel_tol=1e-9), q


def test_client_lifecycle(spark, client):
    rows = C.generate_rows(30, seed=3)
    df = spark.createDataFrame(rows, C.CORPUS_SCHEMA)
    client.create_index("tiny", df, num_buckets=4)
    with pytest.raises(ValueError, match="already exists"):
        client.create_index("tiny", df)

    names = [i["name"] for i in client.list_indices()]
    assert "tiny" in names

    st = client.stats("tiny")
    assert st["document_count"] == 30
    assert st["total_size"] == sum(len(r[4]) for r in rows)
    assert set(st["by_lang"]) <= {"python", "markdown", "java", "scala"}
    assert st["distinct_terms"] > 0

    client.delete_index("tiny")
    with pytest.raises(ValueError, match="not found"):
        client.search("tiny", "apple")
    with pytest.raises(ValueError, match="not found"):
        client.delete_index("tiny")


def test_search_multi_and_cache_and_history(spark, client):
    rows = C.generate_rows(80, seed=5)
    half = len(rows) // 2
    client.create_index(
        "m0", spark.createDataFrame(rows[:half], C.CORPUS_SCHEMA), num_buckets=4
    )
    client.create_index(
        "m1", spark.createDataFrame(rows[half:], C.CORPUS_SCHEMA), num_buckets=4
    )

    fused = client.search_multi(["m0", "m1"], "data value", top_k=5)
    assert 0 < len(fused) <= 5
    # silently skips missing indices (reference core/searcher.py:147-149)
    fused2 = client.search_multi(["m0", "nope"], "data value", top_k=5)
    assert len(fused2) > 0
    assert client.search_multi(["nope"], "data value") == []

    # cache: second identical search is a hit
    h0 = client.cache.stats()["hits"]
    a0 = client.history.df().where("query = 'apple'").count()
    r1 = client.search("m0", "apple", top_k=5)
    r2 = client.search("m0", "apple", top_k=5)
    assert r1 == r2
    assert client.cache.stats()["hits"] == h0 + 1

    # history recorded and substring-searchable
    assert client.history.count() >= 1
    found = client.history.search("apple", n=5)
    assert any("apple" in r["query"] for r in found)

    # include_content is part of the cache key: a cached content-less
    # result must NOT be served for an include_content=True call
    assert all("content" not in r for r in r2)
    r3 = client.search("m0", "apple", top_k=5, include_content=True)
    assert r3 and all("content" in r and r["content"] for r in r3)
    r4 = client.search("m0", "apple", top_k=5)  # content-less again
    assert all("content" not in r for r in r4)

    # stats: total + per-query breakdown (reference history stats shows the
    # total; cache HITS are not logged, so this test added exactly two
    # "apple" executions — r1 and the include_content variant; the shared
    # client fixture may carry earlier tests' entries, hence the delta)
    st = client.history.stats(top_n=10)
    assert st["total"] == client.history.count() > 0
    assert st["avg_elapsed_seconds"] > 0
    apple = next(q for q in st["top_queries"] if q["query"] == "apple")
    assert apple["count"] == a0 + 2
    assert apple["avg_elapsed_seconds"] > 0

    # clear: returns the count deleted, leaves an empty reloadable log
    n = client.history.clear()
    assert n == st["total"]
    assert client.history.count() == 0
    assert client.history.clear() == 0  # idempotent
    assert client.history.stats()["top_queries"] == []
    # logging still works after a clear
    client.search("m0", "apple", top_k=5, use_cache=False)
    assert client.history.count() == 1


def _log_many(history_dir: str, tag: str, n: int, start) -> None:
    from bm25_index_tool_spark.history import SearchHistory

    h = SearchHistory(None, history_dir)  # logging needs no Spark session
    start.wait(60)  # both writers append at the same time
    for i in range(n):
        # long lines: an interleaved write would split one of them
        h.log(["idx"], f"{tag}-{i} " + tag * 2000, 10, i, 0.001 * i)


def test_history_concurrent_appends_from_two_processes(spark, tmp_path):
    """Two processes append to one history log at once; every entry reads
    back whole (one O_APPEND write per line, never interleaved)."""
    import multiprocessing

    from bm25_index_tool_spark.history import SearchHistory

    hdir = str(tmp_path / "_history")
    n = 500
    # spawn, not fork: this process runs the Spark gateway's threads
    ctx = multiprocessing.get_context("spawn")
    start = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_log_many, args=(hdir, tag, n, start))
        for tag in "ab"
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    h = SearchHistory(spark, hdir)
    assert h.count() == 2 * n
    got = sorted(r["query"] for r in h.df().select("query").collect())
    want = sorted(
        f"{tag}-{i} " + tag * 2000 for tag in "ab" for i in range(n)
    )
    assert got == want


def test_history_reads_legacy_parquet_alongside_jsonl(spark, tmp_path):
    """A root written by the former parquet-append log keeps its history:
    legacy part files show in recent/count/stats beside new JSONL entries,
    and clear() deletes both."""
    import os

    from bm25_index_tool_spark.history import HISTORY_SCHEMA, SearchHistory

    hdir = str(tmp_path / "_history")
    legacy = [
        (1, "2024-01-01T00:00:00", '["old"]', "legacy query", 10, 3, 0.5,
         "[]", "[]"),
        (2, "2024-01-02T00:00:00", '["old"]', "legacy query", 10, 2, 1.5,
         "[]", "[]"),
    ]
    for row in legacy:  # the former log's write shape, one file per search
        spark.createDataFrame([row], HISTORY_SCHEMA).write.mode(
            "append"
        ).parquet(hdir)
    h = SearchHistory(spark, hdir)
    assert h.count() == 2
    h.log(["new"], "fresh query", 5, 1, 0.25)
    assert h.count() == 3
    assert [r["query"] for r in h.recent(10)] == [
        "fresh query", "legacy query", "legacy query",
    ]
    assert [r["id"] for r in h.search("legacy", 10)] == [2, 1]
    st = h.stats(top_n=5)
    assert st["total"] == 3
    assert st["top_queries"][0] == {
        "query": "legacy query", "count": 2, "avg_elapsed_seconds": 1.0,
    }
    assert h.clear() == 3
    assert h.count() == 0
    assert not os.path.exists(hdir)
    h.log(["new"], "after clear", 5, 0, 0.1)
    assert [r["query"] for r in h.recent()] == ["after clear"]


def test_client_block_engine(spark, client):
    rows = C.generate_rows(40, seed=21)
    client.create_index(
        "blk",
        spark.createDataFrame(rows, C.CORPUS_SCHEMA),
        num_buckets=4,
        build_block_engine=True,
    )
    join_res = client.search("blk", "data value", top_k=5, use_cache=False)
    blk_res = client.search(
        "blk", "data value", top_k=5, use_cache=False, engine="blocks"
    )
    assert [r["path"] for r in join_res] == [r["path"] for r in blk_res]
    for a, b in zip(join_res, blk_res):
        assert math.isclose(a["score"], b["score"], rel_tol=1e-9)
    # update keeps the block engine EXACT (delta shard re-encode)
    client.update_index("blk", spark.createDataFrame(rows[:35], C.CORPUS_SCHEMA))
    after_join = client.search("blk", "data value", top_k=5, use_cache=False)
    after_blk = client.search(
        "blk", "data value", top_k=5, use_cache=False, engine="blocks"
    )
    assert len(after_blk) > 0
    assert [r["path"] for r in after_join] == [r["path"] for r in after_blk]
    for a, b in zip(after_join, after_blk):
        assert math.isclose(a["score"], b["score"], rel_tol=1e-9)
    client.delete_index("blk")


def test_path_filter_post_topk(client):
    """Include/exclude globs applied after top-k can shrink results below k."""
    res = client.search("m0", "data", top_k=10, use_cache=False)
    assert len(res) > 0
    only_py = client.search(
        "m0", "data", top_k=10, path_filter=["*.py"], use_cache=False
    )
    assert all(r["path"].endswith(".py") for r in only_py)
    assert len(only_py) <= len(res)
    none = client.search(
        "m0", "data", top_k=10, exclude_path=["*"], use_cache=False
    )
    assert none == []


def test_path_filter_df_matches_fnmatch():
    pf = PathFilter(["org0/*/src/*.py", "*.md"], ["*module_3*"])
    paths = [
        "org0/alpha/src/file_1.py",
        "org0/alpha/src/module_3/f.py",
        "org1/gamma/doc.md",
        "org1/gamma/doc.txt",
    ]
    expected = [p for p in paths if pf.matches(p)]
    assert expected == ["org1/gamma/doc.md"] or expected  # sanity
    rows = [{"path": p} for p in paths]
    assert [r["path"] for r in pf.filter_rows(rows)] == expected


def test_fragments_semantics(client):
    content = "\n".join(f"line {i} alpha" if i % 7 == 0 else f"line {i}" for i in range(30))
    frags = extract_fragments(content, ["alpha"], context_lines=1, max_fragments=2)
    assert len(frags) == 2
    f0 = frags[0]
    assert f0["line_start"] == 1 and f0["matched_line_numbers"] == [1]
    assert f0["lines"] == ["line 0 alpha", "line 1"]
    # adjacent/overlapping merge
    merged = extract_fragments("a x\nb x\nc x", ["x"], context_lines=3)
    assert len(merged) == 1 and merged[0]["matched_line_numbers"] == [1, 2, 3]
    # fragments via client search path
    res = client.search("m0", "apple", top_k=3, fragments=True, use_cache=False)
    for r in res:
        assert isinstance(r.get("fragments"), list)


def test_search_related(client, spark):
    res = client.search("m0", "data", top_k=1, use_cache=False)
    src = res[0]["path"]
    rel = client.search_related("m0", src, top_k=5)
    assert all(r["path"] != src for r in rel)
    with pytest.raises(ValueError, match="not found"):
        client.search_related("m0", "no/such/path.py")


def test_out_of_band_update_invalidates_cache_and_handle(spark, client):
    """A SECOND client on the same root committing an update must be
    visible to the first client immediately: its search cache must not
    serve pre-commit hits (the os-level index version rides in the cache
    key) and its held LoadedIndex must reopen (manifest N/avgdl enter
    every BM25 score).  The reference is single-process so it can rely on
    in-process clears; a shared index root cannot."""
    rows = C.generate_rows(50, seed=31)
    client.create_index(
        "oob", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    before = client.search("oob", "data value", top_k=5)
    assert client.search("oob", "data value", top_k=5) == before  # cached
    n_docs_before = client._require("oob").manifest.num_docs

    other = BM25SparkClient(client.spark, client.root)
    extra = C.generate_rows(55, seed=31)[50:]
    for r in extra:
        assert r not in rows
    new_rows = rows + [
        (r[0], r[1], r[2], r[3], r[4] + " oobmarker fresh") for r in extra
    ]
    other.update_index(
        "oob", spark.createDataFrame(new_rows, C.CORPUS_SCHEMA)
    )

    # first client: handle revalidates (num_docs advanced), cache misses
    assert client._require("oob").manifest.num_docs == n_docs_before + 5
    hit = client.search("oob", "oobmarker", top_k=5)
    assert len(hit) == 5
    # and the pre-commit cached entry for the old query is not served:
    # scores reflect the new N/avgdl, not the cached pre-update rows
    after = client.search("oob", "data value", top_k=5)
    assert after != before


def test_explain_search_surfaces_plan_contract(client):
    """--explain returns the compiled physical plan for the exact search
    DataFrame: the top-k operator and the bucket-pruned postings scan must
    be visible (the PLANS.md contract, per live index + query)."""
    plan = client.explain_search("inc", "apple data", 10)
    assert plan.startswith("-- engine: ")
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters" in plan  # bucket pruning reached the scan
    # nothing was executed: explain on a bogus-but-tokenizable query also works
    plan2 = client.explain_search("inc", "zzzznonexistent", 3, engine="join")
    assert "== Physical Plan ==" in plan2
