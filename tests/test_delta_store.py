"""LSM segment-append incremental updates (delta_store.py, VERDICT r02 #3).

Invariants under test:
* append update is query-identical to the FTS5 oracle on the new corpus,
  while leaving EVERY base parquet file byte-identical — write IO ∝ delta
  even for scattered edits, and only the delta is tokenized;
* termstats view: df adjustments apply, terms whose df hits 0 vanish;
* compaction folds segments + tombstones into fresh bases with identical
  query results, and auto-compaction triggers past the segment bound;
* a crash in any commit window leaves the pre- or the post-update state;
  recovery rolls the journaled commit forward.
"""

from __future__ import annotations

import hashlib
import math
import os

import pytest
from pyspark.sql import functions as F

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark import delta_store as DS
from bm25_index_tool_spark.client import BM25SparkClient
from tests.oracle import FTS5Oracle
from tests.test_edge_cases import flat_stand_ins

N0 = 50


def _base_rows():
    return C.generate_rows(N0, seed=55)


def _delta_rows():
    rows = _base_rows()
    out = []
    for i, r in enumerate(rows):
        if i < 3:  # deleted
            continue
        if 5 <= i < 9:  # modified (scattered edits)
            out.append((r[0], r[1], r[2], r[3], r[4] + " appended xylograph"))
        else:
            out.append(r)
    out.extend(C.generate_rows(N0 + 4, seed=55)[N0:])  # 4 added
    return out


def _tree_hashes(root):
    out = {}
    for dp, _d, fs in os.walk(root):
        for fn in fs:
            if fn.endswith(".parquet"):
                p = os.path.join(dp, fn)
                with open(p, "rb") as f:
                    out[os.path.relpath(p, root)] = hashlib.sha256(
                        f.read()
                    ).hexdigest()
    return out


def _assert_oracle_identical(client, name, cur_rows, queries):
    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(cur_rows))
    for q in queries:
        got = client.search(name, q, top_k=10, use_cache=False)
        exp = oracle.search_bm25(q, top_k=10)
        assert [r["path"] for r in got] == [e[1] for e in exp], q
        for g, e in zip(got, exp):
            assert math.isclose(g["score"], e[4], rel_tol=1e-9), q


QUERIES = ["xylograph", "apple", "data value", "the"]


def test_append_update_oracle_identical_and_base_untouched(
    spark, tmp_path, monkeypatch
):
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("a")
    before = {
        sub: _tree_hashes(os.path.join(idx_dir, sub))
        for sub in (B.POSTINGS_DIR, B.TERMSTATS_DIR, B.DOCS_DIR)
    }

    # spy: rows entering the tokenizer during the update
    real_tokenize = DS._tokenize_rows
    seen = []

    def spy(spark_, rows, *a, **k):
        seen.append(rows.count())
        return real_tokenize(spark_, rows, *a, **k)

    monkeypatch.setattr(DS, "_tokenize_rows", spy)
    m = client.update_index(
        "a", spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    )
    monkeypatch.undo()
    # only the delta is tokenized: the 4 modified + 4 added docs' new
    # content, then the 3 deleted + 4 modified docs' old content
    assert seen == [8, 7]
    assert DS.has_segments(idx_dir) and DS.segment_ids(idx_dir) == [1]
    assert m.num_docs == len(_delta_rows())

    # EVERY base parquet file byte-identical — the whole point of append
    for sub, exp in before.items():
        assert _tree_hashes(os.path.join(idx_dir, sub)) == exp, sub

    _assert_oracle_identical(client, "a", _delta_rows(), QUERIES)

    # manifest totals exact (vs live view)
    idx = client._require("a")
    total = (
        idx.postings().groupBy("doc_id").max("dl").toPandas()["max(dl)"].sum()
    )
    assert m.total_tokens == int(total)

    # termstats view ≡ df recomputed from live postings (incl. vanishing
    # terms of fully-deleted docs)
    from pyspark.sql import functions as F

    recomputed = (
        idx.postings().groupBy("term").agg(F.count("*").cast("long").alias("df"))
    )
    ts = idx.termstats().select("term", "df")
    assert ts.exceptAll(recomputed).count() == 0
    assert recomputed.exceptAll(ts).count() == 0


def test_second_append_then_compact(spark, tmp_path):
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("a")
    wave1 = _delta_rows()
    client.update_index("a", spark.createDataFrame(wave1, C.CORPUS_SCHEMA))
    # wave 2: edit two wave-1 docs again + drop one
    wave2 = [
        (r[0], r[1], r[2], r[3], r[4] + " twice quintuple")
        if i in (0, 1)
        else r
        for i, r in enumerate(wave1)
    ][:-1]
    client.update_index("a", spark.createDataFrame(wave2, C.CORPUS_SCHEMA))
    assert DS.segment_ids(idx_dir) == [1, 2]
    _assert_oracle_identical(client, "a", wave2, QUERIES + ["quintuple"])
    m_before = B.load_manifest(idx_dir)

    n = client.compact_index("a")
    assert n == 2
    assert not DS.has_segments(idx_dir)
    for d in DS._SEG_DIRS:
        assert not os.path.isdir(os.path.join(idx_dir, d))
    m_after = B.load_manifest(idx_dir)
    assert (m_after.num_docs, m_after.total_tokens) == (
        m_before.num_docs, m_before.total_tokens,
    )
    _assert_oracle_identical(client, "a", wave2, QUERIES + ["quintuple"])
    # idempotent
    assert client.compact_index("a") == 0


def test_auto_compaction_bound(spark, tmp_path):
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    cur = list(rows)
    for i in range(3):
        cur = [
            (r[0], r[1], r[2], r[3], r[4] + f" wave{i}")
            if j == i
            else r
            for j, r in enumerate(cur)
        ]
        DS.apply_update_append(
            spark, idx_dir,
            spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=3,
        )
    # third append crossed the bound → auto-compacted to zero segments
    assert not DS.has_segments(idx_dir)
    client._open.pop("a", None)
    _assert_oracle_identical(client, "a", cur, ["wave0", "wave2", "apple"])


class _Boom(RuntimeError):
    pass


def _crash_at_publish(monkeypatch, skip: int, table: str = ""):
    """Let the first ``skip`` staged-dir renames (of ``table``, when given)
    through and crash on the next one."""
    real_replace = os.replace
    calls = {"n": 0}

    def boom(src, dst):
        if src.endswith(".staging") and f"{os.sep}{table}" in src:
            if calls["n"] >= skip:
                raise _Boom(f"injected crash at publish #{calls['n']}")
            calls["n"] += 1
        return real_replace(src, dst)

    monkeypatch.setattr(DS.os, "replace", boom)


def _crash_after_staged_docs_write(monkeypatch):
    """The docs segment write completes, then raises — before the journal
    exists, with staged dirs left on disk."""
    real_write = B.write_table

    def boom(df, path, table, tasks, **kw):
        real_write(df, path, table, tasks, **kw)
        if f"{os.sep}{DS.DOCS_SEG_DIR}{os.sep}" in path:
            raise _Boom("injected crash after a staged write")

    monkeypatch.setattr(B, "write_table", boom)


def _crash_in_update_blocks(monkeypatch):
    import bm25_index_tool_spark.blocks as BL

    def boom(*a, **k):
        raise _Boom("injected crash in update_blocks")

    monkeypatch.setattr(BL, "update_blocks", boom)


def _staging_dirs(idx_dir):
    return [
        os.path.join(dp, d)
        for dp, ds, _f in os.walk(idx_dir)
        for d in ds
        if d.endswith(".staging")
    ]


_VEC_OLD = "benthic oscillation ledger"
_VEC_NEW = "glowworm cartography almanac"


@pytest.mark.parametrize(
    "window",
    ["staged_write", "first_publish", "after_first_publish", "blocks",
     "vector_publish"],
)
def test_append_crash_rolls_forward(spark, tmp_path, monkeypatch, window):
    """Crash windows of the segment commit.  Before the journal exists
    (``staged_write``) the index keeps answering the pre-update state and
    the next writer sweeps the staging dirs; after it (the publish
    renames, the block-store update, the vector segment's rename) recovery
    publishes the staged segment, re-derives stale blocks and writes the
    journaled manifest."""
    base, cur = _base_rows(), _delta_rows()
    if window == "vector_publish":
        base = base + [("rv", "keep/b.txt", "c1", "txt", _VEC_OLD)]
        cur = cur + [("rv", "keep/b.txt", "c2", "txt", _VEC_NEW)]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(base, C.CORPUS_SCHEMA), num_buckets=8,
        build_block_engine=(window == "blocks"),
        build_vector_index=(window == "vector_publish"),
    )
    idx_dir = client._index_dir("a")
    m0 = B.load_manifest(idx_dir)
    base_files = {
        sub: _tree_hashes(os.path.join(idx_dir, sub))
        for sub in (B.POSTINGS_DIR, B.TERMSTATS_DIR, B.DOCS_DIR)
    }

    if window == "staged_write":
        _crash_after_staged_docs_write(monkeypatch)
    elif window == "blocks":
        _crash_in_update_blocks(monkeypatch)
    elif window == "vector_publish":
        _crash_at_publish(monkeypatch, 0, DS.VECTOR_SEG_DIR)
    else:
        _crash_at_publish(monkeypatch, 0 if window == "first_publish" else 1)
    with pytest.raises(_Boom):
        client.update_index("a", spark.createDataFrame(cur, C.CORPUS_SCHEMA))
    monkeypatch.undo()
    client._open.pop("a", None)
    client.cache.clear()

    jpath = os.path.join(idx_dir, DS.SEG_JOURNAL)
    if window == "staged_write":
        assert not os.path.exists(jpath)
        assert _staging_dirs(idx_dir), "the crash must leave staged dirs"
        assert DS.segment_ids(idx_dir) == []
        assert B.load_manifest(idx_dir).to_json() == m0.to_json()
        for sub, exp in base_files.items():
            assert _tree_hashes(os.path.join(idx_dir, sub)) == exp, sub
        _assert_oracle_identical(client, "a", base, QUERIES)
        # the next writer sweeps the staging, then applies the update
        client.update_index("a", spark.createDataFrame(cur, C.CORPUS_SCHEMA))
    else:
        assert os.path.exists(jpath), "journal must survive the crash"
        assert DS.recover_segments_if_needed(spark, idx_dir) is True
        client._open.pop("a", None)
        client.cache.clear()

    assert not os.path.exists(jpath)
    assert not _staging_dirs(idx_dir)
    assert DS.segment_ids(idx_dir) == [1]
    _assert_oracle_identical(client, "a", cur, QUERIES)
    m = B.load_manifest(idx_dir)
    assert m.num_docs == len(cur)
    idx = client._require("a")
    post_ids = idx.postings().select("doc_id").distinct()
    doc_ids = idx.docs().select("doc_id")
    # no ghost postings, and every (non-empty) doc has postings
    assert post_ids.join(doc_ids, "doc_id", "left_anti").count() == 0
    assert doc_ids.join(post_ids, "doc_id", "left_anti").count() == 0
    total = (
        idx.postings().groupBy("doc_id").max("dl").toPandas()["max(dl)"].sum()
    )
    assert m.total_tokens == int(total)
    assert math.isclose(m.avgdl, m.total_tokens / m.num_docs, rel_tol=1e-12)

    if window == "blocks":
        # recovery rebuilt the stale block store: both engines agree
        for q in QUERIES:
            join = client.search("a", q, top_k=10, use_cache=False,
                                 engine="join")
            blk = client.search("a", q, top_k=10, use_cache=False,
                                engine="blocks")
            assert [r["path"] for r in blk] == [r["path"] for r in join], q
            for g, e in zip(blk, join):
                assert math.isclose(g["score"], e["score"], rel_tol=1e-9), q
    if window == "vector_publish":
        from bm25_index_tool_spark import vector as V

        top = client.search_semantic("a", _VEC_NEW, top_k=1)[0]
        assert top["path"] == "rv/keep/b.txt"
        assert top["score"] == pytest.approx(1.0)
        vv = V.vector_view(spark, idx_dir)
        assert vv.where(vv.chunk_text == _VEC_OLD).count() == 0


def test_legacy_merge_journal_fails_clearly(spark, tmp_path):
    """A crashed merge-and-swap update (a writer that no longer exists)
    leaves ``_update.journal`` and possibly half-swapped partitions in a
    format-1 index: every writer refuses the index with an error that says
    to rebuild, rather than serving it, and leaves the journal in place."""
    import json

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    mp = os.path.join(idx_dir, B.MANIFEST)
    with open(mp) as f:
        m = json.load(f)
    m["index_version"] = 1
    with open(mp, "w") as f:
        json.dump(m, f)
    journal = os.path.join(idx_dir, "_update.journal")
    with open(journal, "w") as f:
        f.write("{}")
    cur = spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    for write in (
        lambda: client.update_index("a", cur),
        lambda: DS.apply_update_append(spark, idx_dir, cur),
        lambda: DS.merge_segments(spark, idx_dir),
        lambda: DS.compact_index(spark, idx_dir),
    ):
        with pytest.raises(ValueError, match=r"format 1 .*overwrite=True"):
            write()
    assert os.path.exists(journal)
    assert DS.segment_ids(idx_dir) == []
    # the rebuild the error asks for clears it
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA),
        num_buckets=4, overwrite=True,
    )
    client.update_index("a", cur)
    assert DS.segment_ids(idx_dir) == [1]


def _tree_state(root):
    return sorted(
        (os.path.relpath(os.path.join(dp, n), root), st.st_size, st.st_mtime_ns)
        for dp, dns, fns in os.walk(root)
        for n in dns + fns
        for st in [os.stat(os.path.join(dp, n))]
    )


def _mark_format_1(idx_dir, drop=("generation", "build_id", "docs_schema")):
    """Rewrite the manifest as a format-1 engine wrote it: version 1 and
    without the fields that format 2 added (plus any in ``drop``)."""
    import json

    mp = os.path.join(idx_dir, B.MANIFEST)
    with open(mp) as f:
        m = json.load(f)
    m["index_version"] = 1
    for k in drop:
        m.pop(k, None)
    with open(mp, "w") as f:
        json.dump(m, f)


def _assert_format_1_refused_untouched(spark, client, idx_dir):
    """Every reader and writer refuses the index with the rebuild error,
    and no file under it is created, removed or rewritten."""
    state = _tree_state(idx_dir)
    cur = spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    client._open.pop("a", None)
    for call in (
        lambda: client.search("a", "apple", use_cache=False),
        lambda: client.update_index("a", cur),
        lambda: client.compact_index("a"),
        lambda: DS.apply_update_append(spark, idx_dir, cur),
        lambda: DS.merge_segments(spark, idx_dir),
    ):
        with pytest.raises(ValueError, match=r"format 1 .*overwrite=True"):
            call()
    assert _tree_state(idx_dir) == state


def _rebuild_and_update(spark, client, idx_dir):
    """The rebuild the error asks for gives a format-2 index that takes
    append updates and matches the FTS5 oracle."""
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA),
        num_buckets=4, overwrite=True,
    )
    m = client.update_index(
        "a", spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    )
    assert m.index_version == B.INDEX_FORMAT_VERSION
    assert DS.segment_ids(idx_dir) == [1]
    client._open.pop("a", None)
    _assert_oracle_identical(client, "a", _delta_rows(), QUERIES)


def test_append_legacy_manifest_id_fallback(spark, tmp_path):
    """A manifest written before ``next_doc_id`` existed (format 1) is no
    longer read through a max(doc_id) fallback: every reader and writer
    refuses the index before touching it, and the rebuild mints ids from
    the manifest's ``next_doc_id``."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    _mark_format_1(
        idx_dir, drop=("next_doc_id", "generation", "build_id", "docs_schema")
    )
    _assert_format_1_refused_untouched(spark, client, idx_dir)
    _rebuild_and_update(spark, client, idx_dir)
    ids = _doc_ids_by_path(client, "a")
    assert B.load_manifest(idx_dir).next_doc_id == max(ids.values()) + 1


def test_append_onto_legacy_flat_docs_table(spark, tmp_path):
    """A format-1 index whose docs table predates doc_pt partitioning (flat
    parquet) is refused by every reader and writer, rather than appended
    onto; the rebuild restores the partitioned docs base."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    docs_path = os.path.join(idx_dir, B.DOCS_DIR)
    flat = spark.read.parquet(docs_path).drop("doc_pt").localCheckpoint(True)
    flat.write.parquet(docs_path + ".flat")
    os.rename(docs_path, docs_path + ".partitioned")
    os.rename(docs_path + ".flat", docs_path)
    assert not any(n.startswith("doc_pt=") for n in os.listdir(docs_path))
    _mark_format_1(idx_dir)
    _assert_format_1_refused_untouched(spark, client, idx_dir)
    _rebuild_and_update(spark, client, idx_dir)
    assert any(n.startswith("doc_pt=") for n in os.listdir(docs_path))


def test_legacy_partitioned_segment_reads_beside_flat_one(spark, tmp_path):
    """A format-1 index holding a segment in the older bucket=/doc_pt=
    layout beside a flat one is refused by every reader and writer (no
    diff, search or merge reads it); the rebuild writes flat segments."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    waves = _waves(rows, 2)
    for cur in waves:
        DS.apply_update_append(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=None,
        )
    assert DS.segment_ids(idx_dir) == [1, 2]
    for table, part_col in (
        (DS.POSTINGS_SEG_DIR, "bucket"),
        (DS.TERMSTATS_SEG_DIR, "bucket"),
        (DS.DOCS_SEG_DIR, "doc_pt"),
    ):
        d = os.path.join(idx_dir, table, "seg=1")
        seg = spark.read.parquet(d).localCheckpoint(eager=True)
        seg.repartition(2, part_col).write.partitionBy(part_col).parquet(
            d + ".old"
        )
        os.rename(d, d + ".flat")
        os.rename(d + ".old", d)
        assert any(n.startswith(f"{part_col}=") for n in os.listdir(d))
    _mark_format_1(idx_dir)
    _assert_format_1_refused_untouched(spark, client, idx_dir)
    _rebuild_and_update(spark, client, idx_dir)
    _assert_flat_segment(idx_dir, 1)


def test_compact_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """Crash after the compact journal mid-replace: recovery finishes the
    swaps and drops the segments — no duplicate rows survive."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("a")
    client.update_index(
        "a", spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    )

    real_replace = os.replace
    calls = {"n": 0}

    def boom(src, dst):
        if src.endswith(".compact-tmp"):
            calls["n"] += 1
            if calls["n"] > 1:  # let postings swap, crash on termstats
                raise RuntimeError("injected crash mid-compaction")
        return real_replace(src, dst)

    monkeypatch.setattr(DS.os, "replace", boom)
    with pytest.raises(RuntimeError, match="mid-compaction"):
        client.compact_index("a")
    monkeypatch.setattr(DS.os, "replace", real_replace)

    assert DS.recover_segments_if_needed(spark, idx_dir) is True
    assert not DS.has_segments(idx_dir)
    client._open.pop("a", None)
    client.cache.clear()
    _assert_oracle_identical(client, "a", _delta_rows(), QUERIES)
    # no duplicates: one postings row-set per (term, doc)
    idx = client._require("a")
    dups = (
        idx.postings().groupBy("term", "doc_id").count().where("count > 1")
    )
    assert dups.count() == 0


def test_vector_store_refreshes_on_update(spark, tmp_path):
    """Reference commands/update.py:276+: an update must refresh the vector
    index — chunks of deleted∪modified docs drop, added∪modified re-embed
    with the store's own embedder/chunk params.  Exact-text queries score
    1.0 only if the refreshed chunks carry correctly-embedded vectors."""
    from bm25_index_tool_spark import vector as V

    old_b = "benthic oscillation ledger"       # modified doc, old content
    new_b = "glowworm cartography almanac"     # modified doc, new content
    doc_c = "murmuration viaduct pantry"       # added doc
    doc_d = "tessellated gyre handbook"        # deleted doc
    base = C.generate_rows(15, seed=91) + [
        ("rv", "keep/b.txt", "c1", "txt", old_b),
        ("rv", "drop/d.txt", "c1", "txt", doc_d),
    ]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "v", spark.createDataFrame(base, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    # pre-update: old contents searchable
    assert client.search_semantic("v", old_b, top_k=1)[0]["score"] == pytest.approx(1.0)

    cur = [r for r in base if r[1] != "drop/d.txt" and r[1] != "keep/b.txt"]
    cur += [("rv", "keep/b.txt", "c2", "txt", new_b),
            ("rv", "new/c.txt", "c1", "txt", doc_c)]
    client.update_index("v", spark.createDataFrame(cur, C.CORPUS_SCHEMA))

    for q, path in ((new_b, "rv/keep/b.txt"), (doc_c, "rv/new/c.txt")):
        top = client.search_semantic("v", q, top_k=1)[0]
        assert top["path"] == path and top["score"] == pytest.approx(1.0), q
    # replaced/deleted chunks are gone from the live view
    idx_dir = client._index_dir("v")
    vv = V.vector_view(spark, idx_dir)
    assert vv.where(F.col("chunk_text").isin(old_b, doc_d)).count() == 0
    assert vv.where(vv.path == "rv/drop/d.txt").count() == 0

    # compaction folds the vector segments with identical results
    client.compact_index("v")
    assert not os.path.isdir(os.path.join(idx_dir, "vector_seg"))
    assert not os.path.isdir(os.path.join(idx_dir, "vector_tombstones"))
    for q, path in ((new_b, "rv/keep/b.txt"), (doc_c, "rv/new/c.txt")):
        top = client.search_semantic("v", q, top_k=1)[0]
        assert top["path"] == path and top["score"] == pytest.approx(1.0), q
    # _meta.json survives the vector-base swap
    meta = V._load_vector_meta(idx_dir)
    assert meta["embedder"] == "fake-md5" and meta["dim"] == V.FAKE_EMBED_DIM


def test_repeated_vector_refresh_keeps_only_newest(spark, tmp_path):
    """Segment ordering: three successive edits of one path leave exactly
    the newest chunk alive (earlier refresh segments die to later
    tombstones, not just base chunks)."""
    from bm25_index_tool_spark import vector as V

    base = C.generate_rows(10, seed=93) + [
        ("rw", "hot/doc.txt", "c0", "txt", "edition zero aardwolf")
    ]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "w", spark.createDataFrame(base, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    cur = base
    for i in (1, 2, 3):
        cur = [r for r in cur if r[1] != "hot/doc.txt"] + [
            ("rw", "hot/doc.txt", f"c{i}", "txt", f"edition {i} bandicoot")
        ]
        client.update_index("w", spark.createDataFrame(cur, C.CORPUS_SCHEMA))

    vv = V.vector_view(spark, client._index_dir("w"))
    rows = vv.where("path = 'rw/hot/doc.txt'").select("chunk_text").collect()
    assert [r["chunk_text"] for r in rows] == ["edition 3 bandicoot"]
    top = client.search_semantic("w", "edition 3 bandicoot", top_k=1)[0]
    assert top["path"] == "rw/hot/doc.txt" and top["score"] == pytest.approx(1.0)


def test_append_full_delete_empties_index(spark, tmp_path):
    """mode=full with an empty current corpus: every doc tombstones out,
    every term's df adjusts to 0, manifest reaches (0 docs, 0 tokens)."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "a", spark.createDataFrame(_base_rows()[:12], C.CORPUS_SCHEMA),
        num_buckets=4, build_block_engine=True,
    )
    empty = spark.createDataFrame([], C.CORPUS_SCHEMA)
    m = client.update_index("a", empty)
    assert (m.num_docs, m.total_tokens) == (0, 0)
    idx = client._require("a")
    assert idx.postings().count() == 0
    assert idx.docs().count() == 0
    assert idx.termstats().count() == 0
    assert client.search("a", "apple", top_k=5, use_cache=False) == []
    client.compact_index("a")
    assert flat_stand_ins(client._index_dir("a")) == []
    idx = client._require("a")
    assert idx.postings().count() == 0
    assert idx.docs().count() == 0
    assert idx.termstats().count() == 0
    assert client.search("a", "apple", engine="blocks", use_cache=False) == []


def _waves(rows, n):
    """n successive corpora: wave i modifies doc i, deletes one base doc at
    wave 1, adds one new doc at wave 2 — exercises base-targeting AND
    segment-born tombstones."""
    out = []
    cur = list(rows)
    for i in range(n):
        cur = [
            (r[0], r[1], r[2], r[3], r[4] + f" tiermark{i}")
            if j == i
            else r
            for j, r in enumerate(cur)
        ]
        if i == 1:
            cur = cur[:-1]  # delete a base doc
        if i == 2:
            cur = cur + C.generate_rows(N0 + 5, seed=55)[N0 + 4:]  # add one
        out.append(list(cur))
    return out


def test_tiered_merge_equivalent_to_full(spark, tmp_path):
    """VERDICT r03 #7: merge_segments folds the oldest half into ONE
    segment without touching base (tree hashes identical), stays
    FTS5-identical through successive tiered merges, and a final full fold
    converges to the same state."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    base_before = {
        sub: _tree_hashes(os.path.join(idx_dir, sub))
        for sub in (B.POSTINGS_DIR, B.TERMSTATS_DIR, B.DOCS_DIR)
    }
    waves = _waves(rows, 4)
    for cur in waves:
        DS.apply_update_append(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=None,
        )
    final = waves[-1]
    assert DS.segment_ids(idx_dir) == [1, 2, 3, 4]
    m_before = B.load_manifest(idx_dir)
    client._open.pop("a", None)
    qs = QUERIES + ["tiermark0", "tiermark3"]
    _assert_oracle_identical(client, "a", final, qs)

    # fold oldest half → [merged(2), 3, 4]; base untouched
    assert DS.merge_segments(spark, idx_dir) == 2
    assert DS.segment_ids(idx_dir) == [2, 3, 4]
    for sub, exp in base_before.items():
        assert _tree_hashes(os.path.join(idx_dir, sub)) == exp, sub
    client._open.pop("a", None)
    _assert_oracle_identical(client, "a", final, qs)

    # again → [merged(3), 4]; then explicit upto folds everything movable
    assert DS.merge_segments(spark, idx_dir) == 2
    assert DS.segment_ids(idx_dir) == [3, 4]
    assert DS.merge_segments(spark, idx_dir, upto_seg=4) == 2
    assert DS.segment_ids(idx_dir) == [4]
    assert DS.merge_segments(spark, idx_dir) == 0  # single seg: no-op
    for sub, exp in base_before.items():
        assert _tree_hashes(os.path.join(idx_dir, sub)) == exp, sub
    client._open.pop("a", None)
    _assert_oracle_identical(client, "a", final, qs)
    m_after = B.load_manifest(idx_dir)
    assert (m_after.num_docs, m_after.total_tokens, m_after.next_doc_id) == (
        m_before.num_docs, m_before.total_tokens, m_before.next_doc_id,
    )

    # full fold converges to the same oracle-identical state
    DS.compact_index(spark, idx_dir)
    assert not DS.has_segments(idx_dir)
    client._open.pop("a", None)
    _assert_oracle_identical(client, "a", final, qs)


def test_seg_merge_crash_rolls_forward(spark, tmp_path, monkeypatch):
    """Crash after the seg_merge journal, mid-publish: recovery drops the
    folded dirs and publishes the staged merged segment exactly once."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    waves = _waves(rows, 3)
    for cur in waves:
        DS.apply_update_append(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=None,
        )
    final = waves[-1]

    real_replace = os.replace

    def boom(src, dst):
        if src.endswith(".staging"):
            raise RuntimeError("injected crash at merged-segment publish")
        return real_replace(src, dst)

    monkeypatch.setattr(DS.os, "replace", boom)
    with pytest.raises(RuntimeError, match="merged-segment publish"):
        DS.merge_segments(spark, idx_dir)
    monkeypatch.setattr(DS.os, "replace", real_replace)

    assert os.path.exists(os.path.join(idx_dir, DS.SEG_JOURNAL))
    assert DS.recover_segments_if_needed(spark, idx_dir) is True
    assert DS.segment_ids(idx_dir) == [2, 3]
    client._open.pop("a", None)
    client.cache.clear()
    _assert_oracle_identical(
        client, "a", final, QUERIES + ["tiermark0", "tiermark2"]
    )
    # no duplicate postings through the merged view
    idx = client._require("a")
    dups = idx.postings().groupBy("term", "doc_id").count().where("count > 1")
    assert dups.count() == 0


def test_tiered_merge_vector_segments(spark, tmp_path):
    """Vector segment-order semantics survive the fold: after three edits
    of one path and a tiered merge, exactly the newest chunk is alive."""
    from bm25_index_tool_spark import vector as V

    base = C.generate_rows(10, seed=93) + [
        ("rw", "hot/doc.txt", "c0", "txt", "edition zero aardwolf")
    ]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "w", spark.createDataFrame(base, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    idx_dir = client._index_dir("w")
    cur = base
    for i in (1, 2, 3):
        cur = [r for r in cur if r[1] != "hot/doc.txt"] + [
            ("rw", "hot/doc.txt", f"c{i}", "txt", f"edition {i} bandicoot")
        ]
        DS.apply_update_append(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=None,
        )
    assert DS.merge_segments(spark, idx_dir) == 2  # folds segs 1,2
    vv = V.vector_view(spark, idx_dir)
    rows_ = vv.where("path = 'rw/hot/doc.txt'").select("chunk_text").collect()
    assert [r["chunk_text"] for r in rows_] == ["edition 3 bandicoot"]
    client._open.pop("w", None)
    top = client.search_semantic("w", "edition 3 bandicoot", top_k=1)[0]
    assert top["path"] == "rw/hot/doc.txt" and top["score"] == pytest.approx(1.0)


def _doc_ids_by_path(client, name):
    return {
        r["full_path"]: r["doc_id"]
        for r in client._require(name)
        .docs()
        .select("doc_id", "full_path")
        .collect()
    }


def test_append_never_remints_tombstoned_ids(spark, tmp_path):
    """ADVICE r03 (high): delete the max-doc_id docs in one append update,
    add docs in the next — the new docs must get ids above the manifest's
    monotonic high-water mark, NOT the retired ids (whose tombstones would
    anti-join the new rows out of every view and compaction would then
    permanently delete them)."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()[:20]
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    ids0 = _doc_ids_by_path(client, "a")
    max_ever = max(ids0.values())
    top3 = sorted(ids0, key=ids0.get)[-3:]  # paths holding the 3 max ids

    wave1 = [r for r in rows if f"{r[0]}/{r[1]}" not in top3]
    client.update_index("a", spark.createDataFrame(wave1, C.CORPUS_SCHEMA))
    client._open.pop("a", None)

    added = C.generate_rows(22, seed=55)[20:]  # 2 brand-new paths
    wave2 = wave1 + added
    m = client.update_index("a", spark.createDataFrame(wave2, C.CORPUS_SCHEMA))
    client._open.pop("a", None)

    ids2 = _doc_ids_by_path(client, "a")
    # every doc of the new corpus is LIVE (none hidden by a stale tombstone)
    assert len(ids2) == m.num_docs == len(wave2)
    # fresh ids are strictly above every id that ever existed
    new_ids = [ids2[f"{r[0]}/{r[1]}"] for r in added]
    assert min(new_ids) > max_ever
    assert m.next_doc_id == max(ids2.values()) + 1
    _assert_oracle_identical(client, "a", wave2, QUERIES)

    # compaction must keep them (the original bug deleted them here)
    client.compact_index("a")
    client._open.pop("a", None)
    assert len(_doc_ids_by_path(client, "a")) == len(wave2)
    _assert_oracle_identical(client, "a", wave2, QUERIES)


def test_client_tiered_compact(spark, tmp_path):
    """client.compact_index(tiered=True) = merge_segments through the
    public surface; the default stays the full fold."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()[:25]
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=4
    )
    idx_dir = client._index_dir("a")
    for cur in _waves(rows, 3):
        DS.apply_update_append(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=None,
        )
    final = _waves(rows, 3)[-1]
    assert client.compact_index("a", tiered=True) == 2
    assert DS.segment_ids(idx_dir) == [2, 3]
    _assert_oracle_identical(client, "a", final, QUERIES + ["tiermark2"])
    assert client.compact_index("a") == 2  # full fold
    assert not DS.has_segments(idx_dir)
    _assert_oracle_identical(client, "a", final, QUERIES + ["tiermark2"])


def test_upsert_diff_equals_full_diff_minus_deletes(spark):
    """The broadcast upsert diff (inner + anti) must classify EXACTLY like
    the full-outer diff with deletions filtered out — differential check on
    a corpus exercising every status (added / modified / same / deleted),
    including a path whose content is unchanged (md5-equal)."""
    stored_rows = [
        (f"r/p{i}.txt", f"md5_{i}", i + 1) for i in range(20)
    ]
    stored = spark.createDataFrame(
        stored_rows, "full_path string, _s string, doc_id long"
    )
    cur_rows = (
        # 0-9 unchanged, 10-14 modified, 15-19 absent (deleted), 5 added
        [(f"r/p{i}.txt", f"md5_{i}") for i in range(10)]
        + [(f"r/p{i}.txt", f"NEW_{i}") for i in range(10, 15)]
        + [(f"r/new{i}.txt", f"add_{i}") for i in range(5)]
    )
    cur = spark.createDataFrame(cur_rows, "full_path string, content_md5 string")

    full = {
        (r["full_path"], r["status"], r["doc_id"])
        for r in DS.full_diff_frame(cur, stored)
        .where(F.col("status") != "deleted")
        .collect()
    }
    ups = {
        (r["full_path"], r["status"], r["doc_id"])
        for r in DS.upsert_diff_frame(cur, stored).collect()
    }
    assert ups == full
    assert {s for _, s, _ in ups} == {"added", "modified"}
    assert sum(1 for _, s, _ in ups if s == "modified") == 5
    assert sum(1 for _, s, _ in ups if s == "added") == 5
    # modified rows carry the stored doc_id; added rows carry null
    assert all(
        (d is None) == (s == "added") for _, s, d in ups
    )


def test_write_lock_reentrant_threads_and_processes(tmp_path, monkeypatch):
    """The advisory writer lock: reentrant for one thread (the
    auto-compaction path acquires it recursively), exclusive across
    threads and processes.  Two unserialized writers would both read the
    same next_doc_id HWM / max segment id and corrupt the index."""
    import subprocess
    import sys
    import textwrap
    import threading

    d = str(tmp_path / "idx")
    os.makedirs(d)
    lock_path = os.path.abspath(d) + DS.WRITE_LOCK_SUFFIX

    # reentrant: nested acquisition by the same thread must not deadlock
    with DS.write_lock(d):
        with DS.write_lock(d):
            assert os.path.exists(lock_path)

    # cross-thread: held by thread A -> B times out
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with DS.write_lock(d):
            entered.set()
            release.wait(10)

    th = threading.Thread(target=holder, daemon=True)
    th.start()
    assert entered.wait(10)
    monkeypatch.setenv("BM25_WRITE_LOCK_TIMEOUT", "0.3")
    with pytest.raises(TimeoutError):
        with DS.write_lock(d):
            pass
    release.set()
    th.join(10)
    # and acquirable again once released
    with DS.write_lock(d):
        pass

    # cross-process: a child process holding flock blocks this process
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            textwrap.dedent(
                f"""
                import fcntl, os, sys, time
                fd = os.open({lock_path!r}, os.O_CREAT | os.O_RDWR)
                fcntl.flock(fd, fcntl.LOCK_EX)
                print("locked", flush=True)
                time.sleep(30)
                """
            ),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert child.stdout.readline().strip() == "locked"
        with pytest.raises(TimeoutError):
            with DS.write_lock(d):
                pass
    finally:
        child.kill()
        child.wait()
    # released by child death -> acquirable
    monkeypatch.delenv("BM25_WRITE_LOCK_TIMEOUT")
    with DS.write_lock(d):
        pass


def test_stale_handle_revalidates_across_update_and_compaction(spark, tmp_path):
    """A LoadedIndex held across in-process commits (bench.py's lifecycle:
    open → append update → FULL compaction → query again) must serve the
    live index: the memoized file listing would otherwise pin the swapped-
    out base dirs (FAILED_READ_FILE) and the captured manifest would keep
    stale N/avgdl in every score."""
    from bm25_index_tool_spark.blocks import build_blocks
    from bm25_index_tool_spark.incremental import apply_update
    from bm25_index_tool_spark.score import LoadedIndex, score_query
    from bm25_index_tool_spark.wand import wand_search

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "h", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("h")
    build_blocks(spark, idx_dir)

    held = LoadedIndex.open(spark, idx_dir)
    score_query(held, "apple", 5, include_content=False).collect()
    wand_search(held, "apple", 5).collect()
    n0 = held.manifest.num_docs

    cur = spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    apply_update(spark, idx_dir, cur)  # LSM append: new segments
    DS.compact_index(spark, idx_dir)  # base-directory swap
    build_blocks(spark, idx_dir)

    # the held handle must see the committed version, not the pinned one
    assert held.manifest.num_docs == N0 + 1 != n0
    fresh = LoadedIndex.open(spark, idx_dir)
    for q in QUERIES:
        got = [
            (r["path"], round(r["score"], 9))
            for r in score_query(held, q, 10, include_content=False).collect()
        ]
        exp = [
            (r["path"], round(r["score"], 9))
            for r in score_query(fresh, q, 10, include_content=False).collect()
        ]
        assert got == exp, q
        got_w = [
            (r["path"], round(r["score"], 9))
            for r in wand_search(held, q, 10).collect()
        ]
        assert got_w == exp, q


def test_write_lock_is_sibling_and_survives_overwrite_build(spark, tmp_path):
    """The flock file lives OUTSIDE the index dir: an overwrite build
    rmtree()s the index dir, and unlinking a held lock inode would let a
    second writer flock a fresh inode and run concurrently."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    corpus = spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA)
    client.create_index("lk", corpus, num_buckets=8)
    idx_dir = client._index_dir("lk")
    lock_path = os.path.abspath(idx_dir) + DS.WRITE_LOCK_SUFFIX

    with DS.write_lock(idx_dir):
        assert os.path.exists(lock_path)
        ino_before = os.stat(lock_path).st_ino
        assert not os.path.exists(os.path.join(idx_dir, "_write.lock"))
        # reentrant in-process: the overwrite build takes the same lock,
        # rmtree()s the index dir, and must NOT touch the lock inode
        client.create_index("lk", corpus, num_buckets=8, overwrite=True)
        assert os.stat(lock_path).st_ino == ino_before

    # delete takes the lock (a mid-commit writer elsewhere must finish
    # first) and deliberately LEAVES the lock file behind: unlinking it —
    # even while held — lets the next build_index open a fresh inode while
    # a queued waiter still holds the old one, i.e. two concurrent
    # "exclusive" writers (ADVICE r04)
    client.delete_index("lk")
    assert not os.path.exists(idx_dir)
    assert os.path.exists(lock_path)
    # recreating the index reuses the same lock path cleanly
    client.create_index("lk", corpus, num_buckets=8)
    client.delete_index("lk")


def test_manifest_commit_is_atomic_rename(spark, tmp_path):
    """Manifest commits go through tmp + os.replace — no truncate window a
    revalidating reader could observe as a torn/empty file."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "mf", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("mf")
    ino0 = os.stat(os.path.join(idx_dir, B.MANIFEST)).st_ino
    from bm25_index_tool_spark.incremental import apply_update

    apply_update(
        spark, idx_dir, spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    )
    st = os.stat(os.path.join(idx_dir, B.MANIFEST))
    assert st.st_ino != ino0  # replaced, not truncated in place
    assert not os.path.exists(os.path.join(idx_dir, B.MANIFEST + ".tmp"))
    assert B.load_manifest(idx_dir).num_docs == N0 + 1


def test_preload_after_out_of_band_commit(spark, tmp_path):
    """preload() on a handle that missed a commit must not crash (the
    mid-loop revalidation resets _cached to None) and must pin the LIVE
    version."""
    from bm25_index_tool_spark.incremental import apply_update
    from bm25_index_tool_spark.score import LoadedIndex, score_query

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "pl", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("pl")
    held = LoadedIndex.open(spark, idx_dir)
    score_query(held, "apple", 3, include_content=False).collect()

    apply_update(
        spark, idx_dir, spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    )
    held.preload()  # TypeError'd before the local-dict fix
    try:
        assert held.manifest.num_docs == N0 + 1
        fresh = LoadedIndex.open(spark, idx_dir)
        got = [
            (r["path"], round(r["score"], 9))
            for r in score_query(held, "xylograph", 10, include_content=False).collect()
        ]
        exp = [
            (r["path"], round(r["score"], 9))
            for r in score_query(fresh, "xylograph", 10, include_content=False).collect()
        ]
        assert got == exp
    finally:
        held.unload()


def test_diff_frames_null_md5_classification(spark):
    """NULL content (allowed by the streaming corpus schema; md5(NULL) is
    NULL) must classify by PRESENCE, null-safely: stored-NULL → real is
    modified (not re-added), real → NULL is modified (not a deletion),
    NULL → NULL is unchanged."""
    stored = spark.createDataFrame(
        [("a/x", None, 1), ("a/y", "h2", 2), ("a/z", None, 3), ("a/gone", "h4", 4)],
        "full_path string, _s string, doc_id int",
    )
    cur = spark.createDataFrame(
        [("a/x", "h1"), ("a/y", None), ("a/z", None), ("a/new", None)],
        "full_path string, content_md5 string",
    )
    got = {
        r["full_path"]: r["status"]
        for r in DS.full_diff_frame(cur, stored).collect()
    }
    assert got == {
        "a/x": "modified",   # NULL -> real content
        "a/y": "modified",   # real -> NULL content (NOT deleted)
        "a/gone": "deleted",  # genuinely absent from cur
        "a/new": "added",     # genuinely new (even with NULL content)
    }  # a/z NULL -> NULL: unchanged, absent

    up = {
        r["full_path"]: r["status"]
        for r in DS.upsert_diff_frame(cur, stored).collect()
    }
    assert up == {"a/x": "modified", "a/y": "modified", "a/new": "added"}


def test_null_content_update_end_to_end(spark, tmp_path):
    """A stored NULL-content doc updated with real content must become
    searchable with ONE live row (pre-fix: classified 'added', minting a
    second doc_id the tombstones never retire)."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    v1 = rows + [("org9", "nul/doc.py", "c1", "python", None)]
    client.create_index(
        "nc", spark.createDataFrame(v1, C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("nc")
    from bm25_index_tool_spark.incremental import apply_update
    from bm25_index_tool_spark.score import LoadedIndex

    v2 = rows + [("org9", "nul/doc.py", "c2", "python", "zanzibar nulltest")]
    apply_update(spark, idx_dir, spark.createDataFrame(v2, C.CORPUS_SCHEMA))

    docs = LoadedIndex.open(spark, idx_dir).docs()
    live = docs.where(docs.full_path == "org9/nul/doc.py").collect()
    assert len(live) == 1, "one live row per path"
    got = client.search("nc", "nulltest", top_k=5, use_cache=False)
    assert [r["path"] for r in got] == ["org9/nul/doc.py"]

    # and back to NULL: modified again (dl -> path/filename tokens only)
    apply_update(spark, idx_dir, spark.createDataFrame(v1, C.CORPUS_SCHEMA))
    assert client.search("nc", "nulltest", top_k=5, use_cache=False) == []
    docs2 = LoadedIndex.open(spark, idx_dir).docs()
    assert docs2.where(docs2.full_path == "org9/nul/doc.py").count() == 1


def test_num_buckets_validated_on_append_strategy(spark, tmp_path):
    """A bucket layout other than the index's raises, and the update takes
    no ``strategy`` (there is one update path): a keyword is a TypeError,
    the CLI option an argparse error."""
    from bm25_index_tool_spark.cli import main
    from bm25_index_tool_spark.incremental import apply_update

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "nbv", spark.createDataFrame(_base_rows(), C.CORPUS_SCHEMA), num_buckets=8
    )
    cur = spark.createDataFrame(_delta_rows(), C.CORPUS_SCHEMA)
    with pytest.raises(ValueError, match="fixed at build time"):
        apply_update(spark, client._index_dir("nbv"), cur, num_buckets=16)
    with pytest.raises(TypeError, match="strategy"):
        apply_update(spark, client._index_dir("nbv"), cur, strategy="merge")
    with pytest.raises(TypeError, match="strategy"):
        client.update_index("nbv", cur, strategy="merge")
    with pytest.raises(SystemExit):
        main(["--root", str(tmp_path / "root"), "update", "nbv",
              "--corpus", "unused", "--strategy", "merge"])


def _scan_blocks(df) -> list[str]:
    """The ``Scan parquet`` node sections of ``df``'s formatted plan."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return [
        blk.strip()
        for blk in buf.getvalue().split("\n\n")
        if "Scan parquet" in blk.strip().split("\n", 1)[0]
    ]


def _plan_line(block: str, key: str) -> str:
    return next((ln for ln in block.splitlines() if ln.startswith(key)), "")


def _assert_flat_segment(idx_dir, seg):
    """postings/termstats/docs of segment ``seg`` hold sorted part files
    and no bucket=/doc_pt= subdirectory.  A delta of a few docs sizes
    every write to one task, so each table is exactly one file."""
    for table in (DS.POSTINGS_SEG_DIR, DS.TERMSTATS_SEG_DIR, DS.DOCS_SEG_DIR):
        names = os.listdir(os.path.join(idx_dir, table, f"seg={seg}"))
        assert not [n for n in names if "=" in n], (table, names)
        parts = [n for n in names if n.endswith(".parquet")]
        assert len(parts) == 1, (table, names)


def test_segments_are_flat_sorted_files_pruned_by_pushed_filters(
    spark, tmp_path
):
    """Append updates and tiered merges write each segment table as sorted
    part files with bucket/doc_pt as data columns (a partitioned segment
    was one file per bucket dir), and the query's bucket predicate still
    prunes the segment scan, now as a pushed parquet filter, while the
    base scan keeps its bucket PartitionFilters."""
    from bm25_index_tool_spark.score import LoadedIndex, score_query

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index(
        "a", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=8
    )
    idx_dir = client._index_dir("a")
    waves = _waves(rows, 2)
    for cur in waves:
        DS.apply_update_append(
            spark, idx_dir, spark.createDataFrame(cur, C.CORPUS_SCHEMA),
            auto_compact_segments=None,
        )
    for seg in (1, 2):
        _assert_flat_segment(idx_dir, seg)
    post_dir = os.path.join(idx_dir, DS.POSTINGS_SEG_DIR, "seg=2")
    part = next(n for n in os.listdir(post_dir) if n.endswith(".parquet"))
    keys = [
        (r["bucket"], r["term"], r["doc_id"])
        for r in spark.read.parquet(os.path.join(post_dir, part)).collect()
    ]
    assert keys and keys == sorted(keys)

    assert DS.merge_segments(spark, idx_dir) == 2
    assert DS.segment_ids(idx_dir) == [2]
    _assert_flat_segment(idx_dir, 2)
    qs = QUERIES + ["tiermark0", "tiermark1"]
    client._open.pop("a", None)
    _assert_oracle_identical(client, "a", waves[-1], qs)

    q = score_query(
        LoadedIndex.open(spark, idx_dir), "tiermark1 data", 10,
        include_content=False,
    )
    q.collect()
    scans = _scan_blocks(q)
    seg_scans = [b for b in scans if f"{DS.POSTINGS_SEG_DIR}/seg=" in b]
    base_scans = [b for b in scans if f"/{B.POSTINGS_DIR}]" in b]
    assert seg_scans and base_scans
    for b in seg_scans:
        pushed = _plan_line(b, "PushedFilters")
        assert "In(bucket" in pushed or "EqualTo(bucket" in pushed, b
    for b in base_scans:
        assert "bucket" in _plan_line(b, "PartitionFilters"), b



def _write_stage_tasks(spark, paths) -> dict[str, int]:
    """Output path → task count of the write stage, for each of ``paths``
    this session wrote: the result stage of the last job of its SQL
    execution (AQE runs each shuffle's map side as a job of its own)."""
    import re

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    status = sc.statusTracker()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(execs.size()):
        ex = execs.apply(i)
        m = re.search(
            r"InsertIntoHadoopFsRelationCommand\nInput: \[\]\n"
            r"Arguments: file:([^,]+),",
            ex.physicalPlanDescription(),
        )
        if m and m.group(1) in paths:
            jobs = ex.jobs().keySet().mkString(",").split(",")
            stage = max(status.getJobInfo(max(map(int, jobs))).stageIds)
            out[m.group(1)] = status.getStageInfo(stage).numTasks
    return out


def test_compaction_fans_out_to_the_data(spark, tmp_path):
    """A full compaction sizes its postings, termstats and docs writes by
    the build's rule, min(num_buckets, sized_parallelism(num_docs)), not to
    num_buckets, and still writes one sorted file per partition dir."""
    import glob

    import pyarrow.parquet as pq

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = C.generate_rows(300, seed=71)
    client.create_index(
        "c", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=32
    )
    idx_dir = client._index_dir("c")
    cur = rows
    for k in (1, 2):
        cur = [
            (r[0], r[1], r[2], r[3], r[4] + f" fanmark{k}") if i % 25 == k else r
            for i, r in enumerate(cur)
        ]
        client.update_index("c", spark.createDataFrame(cur, C.CORPUS_SCHEMA))
    assert client.compact_index("c") == 2

    tmps = [
        os.path.join(idx_dir, sub) + ".compact-tmp"
        for sub in (B.POSTINGS_DIR, B.TERMSTATS_DIR, B.DOCS_DIR)
    ]
    sized = B.sized_parallelism(spark, 300)
    assert sized < 32
    assert _write_stage_tasks(spark, tmps) == {p: sized for p in tmps}

    for sub, key in (
        (B.DOCS_DIR, "doc_pt"),
        (B.POSTINGS_DIR, "bucket"),
        (B.TERMSTATS_DIR, "bucket"),
    ):
        dirs = glob.glob(os.path.join(idx_dir, sub, f"{key}=*"))
        assert len(dirs) == 32, sub
        for d in dirs:
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, d
            if sub == B.POSTINGS_DIR:
                t = pq.read_table(files[0], columns=["term", "doc_id"])
                keys = list(zip(t["term"].to_pylist(), t["doc_id"].to_pylist()))
                assert keys == sorted(keys), d
    _assert_oracle_identical(
        client, "c", cur, QUERIES + ["fanmark1", "fanmark2 data"]
    )
