"""Index format 2: the manifest generation behind every memo, declared
schemas on every index read, and refusal of format-1 indexes.

Invariants under test:
* a commit whose meta files keep their size and mtime (``os.utime``
  restores it) still invalidates every memo: the search cache, the client
  handle, ``LoadedIndex`` frames and blocks, the vector view and the ANN
  frame all key on the manifest generation, not on a file's stat;
* an ``overwrite=True`` rebuild under the same name never serves a cache
  hit, a frame or a diff projection of the old build;
* an append update and a tiered merge run no parquet schema-inference read;
* every reader and writer refuses a format-1 index before touching any of
  its files, and says to rebuild.
"""

from __future__ import annotations

import json
import os

import pytest

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark import delta_store as DS
from bm25_index_tool_spark import vector as V
from bm25_index_tool_spark.blocks import build_blocks
from bm25_index_tool_spark.client import BM25SparkClient
from bm25_index_tool_spark.score import LoadedIndex
from tests.test_delta_store import (
    QUERIES,
    _assert_oracle_identical,
    _base_rows,
    _delta_rows,
    _tree_state,
    _waves,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, C.CORPUS_SCHEMA)


def _rewrite_keeping_stat(paths, writer):
    """Run ``writer``, then give every file in ``paths`` back its mtime: a
    commit that lands in the same clock tick as the one before it."""
    before = {p: os.stat(p) for p in paths}
    writer()
    for p, st in before.items():
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_same_size_same_mtime_rewrites_invalidate_every_memo(spark, tmp_path):
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "m", _frame(spark, C.generate_rows(30, seed=5)), num_buckets=4,
        build_block_engine=True, build_vector_index=True,
    )
    idx_dir = client._index_dir("m")
    V.build_vector_ann(spark, idx_dir, m=4)
    metas = [
        os.path.join(idx_dir, B.MANIFEST),
        os.path.join(idx_dir, "blocks_meta.json"),
        os.path.join(idx_dir, V.VECTOR_DIR, "_meta.json"),
        os.path.join(idx_dir, V.VECTOR_ANN_DIR, "_ann_meta.json"),
    ]

    def memos():
        idx = client._require("m")
        return {
            "handle": idx,
            "docs": idx.docs(),
            "blocks": idx.blocks(),
            "vector_view": V.vector_view(spark, idx_dir),
            "ann_frame": V._ann_frame(spark, idx_dir),
        }

    for writer in (
        lambda: build_blocks(spark, idx_dir),
        lambda: V.build_vector_index(spark, idx_dir),
        lambda: V.build_vector_ann(spark, idx_dir, m=4),
    ):
        old = memos()
        again = memos()
        for k in old:  # memoized between commits
            assert again[k] is old[k], k
        client.search("m", "data value")
        hits = client.cache.hits
        sizes = [os.stat(p).st_size for p in metas]
        _rewrite_keeping_stat(metas, writer)
        assert [os.stat(p).st_size for p in metas] == sizes
        new = memos()
        for k in old:
            assert new[k] is not old[k], k
        assert new["blocks"].count() > 0
        assert new["vector_view"].count() > 0
        assert new["ann_frame"].count() > 0
        client.search("m", "data value")
        assert client.cache.hits == hits  # a miss: the key moved


def test_overwrite_rebuild_never_serves_the_old_build(spark, tmp_path):
    """The rebuild gives a manifest of the same size and, restored, the
    same mtime, over the same (empty) segment list."""
    base = C.generate_rows(20, seed=8)
    extra = C.generate_rows(21, seed=8)[20:]

    def version(word):
        r = base[4]
        return base[:4] + [(r[0], r[1], r[2], r[3], f"{r[4]} {word}")] + base[5:]

    v1, v2 = version("zebrafish"), version("quokkafin")
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index("o", _frame(spark, v1), num_buckets=4)
    idx_dir = client._index_dir("o")
    client.update_index("o", _frame(spark, v1 + extra))  # diff projection
    client.compact_index("o")
    assert DS.segment_ids(idx_dir) == []
    assert len(client.search("o", "zebrafish")) == 1  # cached
    held = LoadedIndex.open(spark, idx_dir)
    docs1 = held.docs()

    mp = os.path.join(idx_dir, B.MANIFEST)
    size = os.stat(mp).st_size
    _rewrite_keeping_stat(
        [mp],
        lambda: client.create_index(
            "o", _frame(spark, v2 + extra), num_buckets=4, overwrite=True
        ),
    )
    assert os.stat(mp).st_size == size

    assert client.search("o", "zebrafish") == []
    assert len(client.search("o", "quokkafin")) == 1
    assert held.docs() is not docs1
    contents = [r["content"] for r in held.docs().select("content").collect()]
    assert any("quokkafin" in c for c in contents)
    assert not any("zebrafish" in c for c in contents)
    # the next diff runs against the new build: nothing changed
    client.update_index("o", _frame(spark, v2 + extra))
    assert DS.segment_ids(idx_dir) == []


def test_update_and_merge_run_no_schema_inference_read(
    spark, tmp_path, monkeypatch
):
    """Every index read declares its schema.  The tiered merge used to
    read the docs base only to learn the docs_seg schema, and every
    update inferred the docs base's."""
    from pyspark.sql.readwriter import DataFrameReader

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()[:25]
    client.create_index("a", _frame(spark, rows), num_buckets=4)
    idx_dir = client._index_dir("a")

    inferred = []
    real_schema, real_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._declared = True
        return real_schema(self, s)

    def parquet(self, *paths, **kw):
        if not getattr(self, "_declared", False):
            inferred.append(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    waves = _waves(rows, 3)
    for cur in waves:
        DS.apply_update_append(
            spark, idx_dir, _frame(spark, cur), auto_compact_segments=None
        )
    assert DS.merge_segments(spark, idx_dir) == 2
    assert inferred == []
    monkeypatch.undo()
    _assert_oracle_identical(client, "a", waves[-1], QUERIES + ["tiermark2"])


def test_format_1_index_is_refused(spark, tmp_path):
    """An index written by an older engine is refused by every reader and
    writer before any of its files is touched (a stray staging dir is not
    swept, no manifest is saved), with an error that says to rebuild; the
    rebuild then searches and updates as usual.  The planted index carries
    the format-1 layouts that nothing reads any more: a manifest without
    next_doc_id, generation or docs schema, a flat (pre-doc_pt) docs base,
    a segment in the partitioned layout, a block store meta without max_df
    and a merge-update journal."""
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = _base_rows()
    client.create_index(
        "a", _frame(spark, rows), num_buckets=4,
        build_block_engine=True, build_vector_index=True,
    )
    idx_dir = client._index_dir("a")
    client.update_index("a", _frame(spark, _delta_rows()))
    for table in (DS.POSTINGS_SEG_DIR, DS.DOCS_SEG_DIR):  # partitioned seg
        d = os.path.join(idx_dir, table, "seg=1")
        part_col = "bucket" if table == DS.POSTINGS_SEG_DIR else "doc_pt"
        seg = spark.read.parquet(d).localCheckpoint(eager=True)
        seg.write.mode("overwrite").partitionBy(part_col).parquet(d + ".old")
        os.rename(d, d + ".flat")
        os.rename(d + ".old", d)
    docs = os.path.join(idx_dir, B.DOCS_DIR)  # flat, pre-doc_pt docs base
    flat = spark.read.parquet(docs).drop("doc_pt").localCheckpoint(eager=True)
    flat.write.parquet(docs + ".flat")
    os.rename(docs, docs + ".partitioned")
    os.rename(docs + ".flat", docs)
    for name, drop in (
        (B.MANIFEST, ("next_doc_id", "generation", "build_id", "docs_schema")),
        ("blocks_meta.json", ("max_df",)),
    ):
        with open(os.path.join(idx_dir, name)) as f:
            meta = json.load(f)
        for k in drop:
            meta.pop(k)
        if name == B.MANIFEST:
            meta["index_version"] = 1
        with open(os.path.join(idx_dir, name), "w") as f:
            json.dump(meta, f)
    with open(os.path.join(idx_dir, "_update.journal"), "w") as f:
        f.write("{}")
    os.makedirs(os.path.join(idx_dir, DS.POSTINGS_SEG_DIR, "seg=2.staging"))
    state = _tree_state(idx_dir)

    cur = _frame(spark, rows)
    for call in (
        lambda: client.search("a", "apple"),
        lambda: client.search("a", "apple", engine="blocks"),
        lambda: client.explain_search("a", "apple"),
        lambda: client.search_semantic("a", "apple"),
        lambda: client.search_related("a", "x"),
        lambda: client.stats("a"),
        lambda: client.info("a"),
        lambda: client.update_index("a", cur),
        lambda: client.compact_index("a"),
        lambda: client.compact_index("a", tiered=True),
        lambda: LoadedIndex.open(spark, idx_dir),
        lambda: DS.apply_update_append(spark, idx_dir, cur, mode="upsert"),
        lambda: DS.recover_segments_if_needed(spark, idx_dir),
        lambda: build_blocks(spark, idx_dir),
        lambda: V.build_vector_index(spark, idx_dir),
        lambda: V.build_vector_ann(spark, idx_dir),
        lambda: V.semantic_search_index(spark, idx_dir, "apple"),
        lambda: B.build_index(spark, cur, idx_dir, num_buckets=4, resume=True),
    ):
        with pytest.raises(
            ValueError, match=r"format 1 .*create_index\(\.\.\., overwrite=True\)"
        ):
            call()
    assert _tree_state(idx_dir) == state

    client.create_index("a", _frame(spark, rows), num_buckets=4, overwrite=True)
    info = client.info("a")
    assert (info["format"], info["generation"]) == (2, 1)
    client.update_index("a", _frame(spark, _delta_rows()))
    assert client.info("a")["generation"] == 2
    _assert_oracle_identical(client, "a", _delta_rows(), QUERIES)


def test_cli_reports_format_1_without_traceback(spark, tmp_path, capsys):
    """The CLI turns the client's refusal of a format-1 index into one
    ``error:`` line on stderr and a non-zero exit, not a traceback."""
    from bm25_index_tool_spark.cli import main
    from tests.test_delta_store import _mark_format_1

    root = str(tmp_path / "root")
    client = BM25SparkClient(spark, root)
    client.create_index("a", _frame(spark, C.generate_rows(10, seed=3)), num_buckets=2)
    _mark_format_1(client._index_dir("a"))
    capsys.readouterr()
    assert main(["--root", root, "query", "a", "apple"]) != 0
    err = capsys.readouterr().err
    assert "error: index format 1 is not readable" in err
    assert "create_index(..., overwrite=True)" in err
    assert "Traceback" not in err
