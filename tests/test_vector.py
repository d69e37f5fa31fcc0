"""Vector surface tests (T4 chunker + J2 chunk-level search): differential
against a driver-side replication of the reference's TextChunker /
CharacterLimitChunker / VectorSearcher loops (reference
vector/chunking.py:161-421, vector/searcher.py:40-150)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bm25_index_tool_spark import vector as V


def reference_chunks(text: str, size: int, overlap: int) -> list[dict]:
    """Verbatim replication of reference TextChunker.chunk_text
    (vector/chunking.py:191-242)."""
    words = text.split()
    if not words:
        return []
    out = []
    step = size - overlap
    start, idx = 0, 0
    while start < len(words):
        end = min(start + size, len(words))
        cw = words[start:end]
        out.append(
            {
                "chunk_index": idx,
                "chunk_text": " ".join(cw),
                "start_word": start,
                "end_word": end,
                "word_count": len(cw),
            }
        )
        start += step
        idx += 1
        if end >= len(words):
            break
    return out


CHUNK_TEXTS = [
    "",
    "   ",
    "one",
    " ".join(f"w{i}" for i in range(5)),     # < size
    " ".join(f"w{i}" for i in range(10)),    # == size
    " ".join(f"w{i}" for i in range(11)),    # size + 1 → 2 chunks
    " ".join(f"w{i}" for i in range(25)),    # several windows
    " ".join(f"w{i}" for i in range(17)),    # final short window
    "a  b\t c \n d",                         # mixed whitespace runs
]


@pytest.mark.parametrize("size,overlap", [(10, 3), (10, 0), (4, 2)])
def test_chunker_matches_reference_loop(spark, size, overlap):
    rows = [(i, t) for i, t in enumerate(CHUNK_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = V.chunk_documents(
        df, id_cols=["doc_id"], text_col="text",
        chunk_size=size, chunk_overlap=overlap,
    ).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in enumerate(CHUNK_TEXTS):
        exp = reference_chunks(text, size, overlap)
        rows_i = sorted(by_doc.get(i, []), key=lambda r: r["chunk_index"])
        assert len(rows_i) == len(exp), (i, text)
        for g, e in zip(rows_i, exp):
            for k in ("chunk_index", "chunk_text", "start_word", "end_word", "word_count"):
                assert g[k] == e[k], (i, k, g[k], e[k])


def test_chunker_overlap_validation(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must be less than"):
        V.chunk_documents(df, id_cols=["doc_id"], text_col="text",
                          chunk_size=5, chunk_overlap=5)


def reference_truncate(text: str, max_chars: int) -> str:
    """Reference CharacterLimitChunker._truncate_text (chunking.py:364-393)."""
    if len(text) <= max_chars:
        return text
    truncated = text[:max_chars]
    last_space = truncated.rfind(" ")
    return truncated[:last_space] if last_space > 0 else truncated


def test_char_limit_truncation(spark):
    texts = [
        "short text",
        "word " * 50,                      # truncate at a word boundary
        "x" * 100,                         # single giant word → hard cut
        "ab " + "y" * 60,                  # space early, then giant word
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id", V.truncate_at_word_boundary(F.col("text"), 40).alias("t")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == reference_truncate(t, 40), i


def test_semantic_search_dedupe_semantics(spark):
    """Reference searcher (vector/searcher.py:74-110): fetch top_k*3 CHUNKS,
    per-document best chunk, sort desc, top_k — including the quirk that
    fewer than top_k documents can return when the 3k best chunks
    concentrate in few documents."""
    import numpy as np

    rng = np.random.RandomState(5)
    qv = [1.0, 0.0, 0.0, 0.0]
    rows = []
    # doc A: 4 chunks all very close to the query — fills a top_k=1 fetch
    # set (3 chunks) alone, but leaves room for B in a top_k=2 fetch (6)
    for i in range(4):
        v = [1.0, 0.01 * i, 0.0, 0.0]
        rows.append(("A", i, f"a{i}", v))
    # doc B: one medium chunk; doc C: one far chunk
    rows.append(("B", 0, "b0", [0.7, 0.7, 0.0, 0.0]))
    rows.append(("C", 0, "c0", [0.0, 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(
        rows, "path string, chunk_index int, chunk_text string, embedding array<float>"
    )
    got = V.semantic_search_chunks(df, qv, top_k=2, doc_col="path").collect()
    # doc A's best chunk (index 0, cosine 1.0) wins; B second
    assert [r["path"] for r in got] == ["A", "B"]
    assert got[0]["chunk_index"] == 0 and got[0]["score"] == 1.0
    assert got[0]["chunk_text"] == "a0"

    # quirk replication: top_k=1 fetches 3 chunks — all from A → one doc
    got1 = V.semantic_search_chunks(df, qv, top_k=1, doc_col="path").collect()
    assert [r["path"] for r in got1] == ["A"]


def test_client_semantic_end_to_end(spark, tmp_path):
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.client import BM25SparkClient

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = C.generate_rows(30, seed=13)
    client.create_index(
        "vec", spark.createDataFrame(rows, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    res = client.search_semantic("vec", "kubernetes networking", top_k=5)
    assert 0 < len(res) <= 5
    paths = [r["path"] for r in res]
    assert len(paths) == len(set(paths)), "per-document dedupe"
    assert all(r["chunk_type"] == "text" and r["chunk_text"] for r in res)
    # deterministic stand-in embedder → identical reruns
    res2 = client.search_semantic("vec", "kubernetes networking", top_k=5)
    assert res == res2
    # info view reports the vector store
    meta = client.info("vec")
    assert meta["vector_metadata"]["dimensions"] == V.FAKE_EMBED_DIM
    with pytest.raises(ValueError, match="not found"):
        client.info("nope")

    # multi-index semantic merge: skips missing indices, tags index_name,
    # merges by score desc (reference VectorSearcher.search_multi)
    rows2 = C.generate_rows(20, seed=14)
    client.create_index(
        "vec2", spark.createDataFrame(rows2, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    multi = client.search_semantic_multi(
        ["vec", "vec2", "missing"], "kubernetes networking", top_k=6
    )
    assert 0 < len(multi) <= 6
    assert {r["index_name"] for r in multi} <= {"vec", "vec2"}
    scores = [r["score"] for r in multi]
    assert scores == sorted(scores, reverse=True)


def test_embedder_plugin_seam(spark, tmp_path):
    """VERDICT r02 #7: a second model drops in via config.toml
    (default_embedder) without touching the chunk/search path; the store
    records which embedder built it and the query side follows it."""
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.client import BM25SparkClient
    from bm25_index_tool_spark.config import GlobalConfig, save_config

    sentinel = "magnetized heliotrope confluence"
    rows = C.generate_rows(25, seed=17) + [
        ("rx", "docs/sentinel.txt", "c1", "txt", sentinel)
    ]

    root = str(tmp_path / "root")
    save_config(
        root, GlobalConfig(default_num_buckets=4, default_embedder="fake-sha1")
    )
    client = BM25SparkClient(spark, root)
    client.create_index(
        "v", spark.createDataFrame(rows, C.CORPUS_SCHEMA),
        build_vector_index=True,
    )
    # store metadata records the configured embedder
    meta = client.info("v")["vector_metadata"]
    assert meta["embedding_model"] == "fake-sha1"

    # the chunk equal to the query embeds to the identical vector → cosine
    # exactly 1.0 at the top — works ONLY if the query side used the same
    # model that built the store
    res = client.search_semantic("v", sentinel, top_k=3)
    assert res[0]["path"] == "rx/docs/sentinel.txt"
    assert abs(res[0]["score"] - 1.0) < 1e-6

    # the two registered models genuinely differ: rebuilding with the
    # default produces different stored vectors for the same chunk
    import os

    from bm25_index_tool_spark.vector import EMBEDDERS, embed_query

    v_md5 = embed_query("fake-md5", sentinel)
    v_sha1 = embed_query("fake-sha1", sentinel)
    assert v_md5 != v_sha1
    stored = (
        spark.read.parquet(os.path.join(client._index_dir("v"), "vector"))
        .where("path = 'rx/docs/sentinel.txt'")
        .collect()[0]["embedding"]
    )
    assert [round(float(x), 5) for x in stored] == [
        round(x, 5) for x in v_sha1
    ]

    # an unregistered name fails loudly at build time
    import pytest as _pt

    save_config(root, GlobalConfig(default_num_buckets=4,
                                   default_embedder="nope"))
    client2 = BM25SparkClient(spark, root)
    with _pt.raises(ValueError, match="unknown embedder"):
        client2.create_index(
            "v2", spark.createDataFrame(rows, C.CORPUS_SCHEMA),
            build_vector_index=True,
        )
    assert "nope" not in EMBEDDERS


def test_vector_ann_semantic_search(spark, tmp_path):
    """IVF ANN over the vector store (the 100-TB semantic path):
    full-probe ≡ exact scan; partial probe finds the exact-text match;
    refresh segments are honored WITHOUT an ANN rebuild (base immutable
    under append updates); compaction staleness falls back to the exact
    scan and explicit method='ivf' raises until rebuilt."""
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.client import BM25SparkClient

    hot_old = "benthic oscillation ledger"
    hot_new = "glowworm cartography almanac"
    base = C.generate_rows(30, seed=17) + [
        ("rv", "keep/b.txt", "c1", "txt", hot_old)
    ]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "v", spark.createDataFrame(base, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    idx_dir = client._index_dir("v")
    meta = client.build_vector_ann("v", m=8)
    assert meta["m"] == 8 and meta["n_chunks"] > 0

    # full probe is RESULT-IDENTICAL to the exact scan
    q = "kubernetes networking"
    scan = V.semantic_search_index(
        spark, idx_dir, q, 10, method="scan"
    ).collect()
    full = V.semantic_search_index(
        spark, idx_dir, q, 10, method="ivf", nprobe=meta["m"]
    ).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in scan]

    # partial probe (the default) finds the exact-text match at score 1.0:
    # an identical embedding lands in the query's own argmax cell
    top = client.search_semantic("v", hot_old, top_k=1)  # auto → ivf
    assert top[0]["path"] == "rv/keep/b.txt"
    assert top[0]["score"] == pytest.approx(1.0)

    # append update: base untouched → ANN stays fresh; new content must be
    # found (brute-forced segment rows) and old content must be gone
    # (tombstoned base rows excluded from the probe)
    cur = [r for r in base if r[1] != "keep/b.txt"] + [
        ("rv", "keep/b.txt", "c2", "txt", hot_new)
    ]
    client.update_index("v", spark.createDataFrame(cur, C.CORPUS_SCHEMA))
    ann_meta2 = V._load_ann_meta(idx_dir)
    assert ann_meta2["base_generation"] == V._load_vector_meta(idx_dir)[
        "base_generation"
    ], "append update must not rewrite the vector base"
    top = client.search_semantic("v", hot_new, top_k=1)
    assert top[0]["path"] == "rv/keep/b.txt"
    assert top[0]["score"] == pytest.approx(1.0)
    gone = V.semantic_search_index(
        spark, idx_dir, hot_old, 5, method="ivf", nprobe=meta["m"]
    ).collect()
    assert all(r["chunk_text"] != hot_old for r in gone)

    # compaction rewrites the base → ANN stale: auto falls back to the
    # exact scan (correct results), explicit ivf refuses
    client.compact_index("v")
    top = client.search_semantic("v", hot_new, top_k=1)
    assert top[0]["score"] == pytest.approx(1.0)
    with pytest.raises(ValueError, match="stale"):
        V.semantic_search_index(spark, idx_dir, hot_new, 1, method="ivf")

    # rebuild restores the ANN path, again scan-identical at full probe
    meta3 = client.build_vector_ann("v", m=8)
    scan2 = V.semantic_search_index(
        spark, idx_dir, q, 10, method="scan"
    ).collect()
    full2 = V.semantic_search_index(
        spark, idx_dir, q, 10, method="ivf", nprobe=meta3["m"]
    ).collect()
    assert [tuple(r) for r in full2] == [tuple(r) for r in scan2]


def test_vector_ann_fold_absorption(spark, tmp_path):
    """VERDICT r04 #7: tiered merge absorbs the merged vector segment into
    cell-partitioned ANN fold dirs (cells assigned against the EXISTING
    centroids — no re-clustering), so steady-state tiered compaction keeps
    the probe live AND bounded: after a merge the un-pruned union tail is
    empty, later appends ride it until the next merge, and each absorption
    supersedes the previous fold dir.  Seg-ordered aliveness must hold
    across folds: a later modification's tombstone kills the absorbed copy
    while the newer row survives."""
    import os

    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.client import BM25SparkClient

    hot1a = "benthic oscillation ledger"
    hot1b = "glowworm cartography almanac"
    hot1c = "isotope marzipan flotilla"
    hotadd = "quasar bagpipe terrarium"
    base = C.generate_rows(24, seed=23) + [
        ("rf", "keep/f.txt", "c1", "txt", hot1a)
    ]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "vf", spark.createDataFrame(base, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    idx_dir = client._index_dir("vf")
    meta = client.build_vector_ann("vf", m=8)

    # two append updates → two segments
    cur1 = [r for r in base if r[1] != "keep/f.txt"] + [
        ("rf", "keep/f.txt", "c2", "txt", hot1b),
        ("rf", "keep/add.txt", "c2", "txt", hotadd),
    ]
    client.update_index("vf", spark.createDataFrame(cur1, C.CORPUS_SCHEMA))
    cur2 = [
        (r[0], r[1], r[2], r[3], r[4] + " tick") if i == 3 else r
        for i, r in enumerate(cur1)
    ]
    client.update_index("vf", spark.createDataFrame(cur2, C.CORPUS_SCHEMA))

    # tiered merge (2 segments → fold both) + absorption
    client.compact_index("vf", tiered=True)
    ann2 = V._load_ann_meta(idx_dir)
    assert ann2["absorbed"] == ann2["absorbed_dirs"] != []
    fold = ann2["absorbed"][0]
    assert os.path.isdir(
        os.path.join(idx_dir, V.VECTOR_ANN_FOLDS_DIR, f"fold={fold}")
    )
    # the merged segment is fully absorbed: the probe's un-pruned union
    # tail is EMPTY
    assert (
        V._live_segment_rows(
            spark, idx_dir, ["path"], after_seg=fold
        )
        is None
    )
    # probe still served by ANN (auto → ivf), full-probe ≡ exact scan
    q = "kubernetes networking"
    scan = V.semantic_search_index(spark, idx_dir, q, 10, method="scan").collect()
    full = V.semantic_search_index(
        spark, idx_dir, q, 10, method="ivf", nprobe=meta["m"]
    ).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in scan]
    top = client.search_semantic("vf", hot1b, top_k=1)  # auto path
    assert top[0]["path"] == "rf/keep/f.txt"
    assert top[0]["score"] == pytest.approx(1.0)
    addhit = client.search_semantic("vf", hotadd, top_k=1)
    assert addhit[0]["path"] == "rf/keep/add.txt"
    gone = V.semantic_search_index(
        spark, idx_dir, hot1a, 5, method="ivf", nprobe=meta["m"]
    ).collect()
    assert all(r["chunk_text"] != hot1a for r in gone)

    # a post-merge append lands in the live tail; its tombstone must kill
    # the ABSORBED copy (seg-ordered aliveness across fold dirs)
    cur3 = [r for r in cur2 if r[1] != "keep/f.txt"] + [
        ("rf", "keep/f.txt", "c3", "txt", hot1c)
    ]
    client.update_index("vf", spark.createDataFrame(cur3, C.CORPUS_SCHEMA))
    top = client.search_semantic("vf", hot1c, top_k=1)
    assert top[0]["path"] == "rf/keep/f.txt"
    assert top[0]["score"] == pytest.approx(1.0)
    gone = V.semantic_search_index(
        spark, idx_dir, hot1b, 5, method="ivf", nprobe=meta["m"]
    ).collect()
    assert all(r["chunk_text"] != hot1b for r in gone)

    # info() surfaces the ANN maintenance state (no Spark jobs)
    inf = client.info("vf")["vector_metadata"]["ann"]
    assert inf["fresh"] is True and inf["absorbed_folds"] == [fold]

    # second tiered merge supersedes the first fold dir
    client.compact_index("vf", tiered=True)
    ann3 = V._load_ann_meta(idx_dir)
    fold2 = ann3["absorbed"][0]
    assert fold2 > fold
    assert not os.path.exists(
        os.path.join(idx_dir, V.VECTOR_ANN_FOLDS_DIR, f"fold={fold}")
    )
    scan2 = V.semantic_search_index(spark, idx_dir, q, 10, method="scan").collect()
    full2 = V.semantic_search_index(
        spark, idx_dir, q, 10, method="ivf", nprobe=meta["m"]
    ).collect()
    assert [tuple(r) for r in full2] == [tuple(r) for r in scan2]
    assert client.search_semantic("vf", hot1c, top_k=1)[0]["score"] == pytest.approx(1.0)

    # failed absorption at a LATER merge must not double-count: the old
    # fold dir's rows are inside the new merged segment, so the probe has
    # to detect the stale fold (its seg id no longer exists) and degrade
    # to ignoring fold dirs (code-review r05 finding #1)
    cur4 = [
        (r[0], r[1], r[2], r[3], r[4] + " postfold") if i == 5 else r
        for i, r in enumerate(cur3)
    ]
    client.update_index("vf", spark.createDataFrame(cur4, C.CORPUS_SCHEMA))
    from bm25_index_tool_spark import delta_store as DS

    def _boom(*a, **kw):
        raise RuntimeError("absorption failure injected")

    orig = V.absorb_merged_segment_into_ann
    V.absorb_merged_segment_into_ann = _boom
    try:
        assert DS.merge_segments(spark, idx_dir) >= 2  # fold happened
    finally:
        V.absorb_merged_segment_into_ann = orig
    ann_fail = V._load_ann_meta(idx_dir)
    assert ann_fail["absorbed"] == [fold2]  # meta still points at old fold
    assert fold2 not in DS.segment_ids(idx_dir)  # ...whose seg is gone
    scan3 = V.semantic_search_index(spark, idx_dir, q, 10, method="scan").collect()
    full3 = V.semantic_search_index(
        spark, idx_dir, q, 10, method="ivf", nprobe=meta["m"]
    ).collect()
    assert [tuple(r) for r in full3] == [tuple(r) for r in scan3]

    # FULL compaction still flips the fingerprint → documented rebuild
    client.compact_index("vf")
    with pytest.raises(ValueError, match="stale"):
        V.semantic_search_index(spark, idx_dir, hot1c, 1, method="ivf")


def test_vector_rebuild_clears_segments_and_fingerprint(spark, tmp_path):
    """Re-running build_vector_index folds the live view (base ∪ segments)
    into a NEW base: outstanding vector segments/tombstones must be
    cleared (else every segment chunk appears twice and an old tombstone
    kills the fresh rows of a modified doc), and the memoized base
    fingerprint must change so the ANN staleness check sees the rebuild."""
    import os

    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark import delta_store as DS
    from bm25_index_tool_spark import vector as V
    from bm25_index_tool_spark.client import BM25SparkClient
    from bm25_index_tool_spark.incremental import apply_update

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = C.generate_rows(20, seed=17)
    client.create_index(
        "rvx", spark.createDataFrame(rows, C.CORPUS_SCHEMA),
        num_buckets=4, build_vector_index=True,
    )
    idx_dir = client._index_dir("rvx")
    gen0 = V._load_vector_meta(idx_dir)["base_generation"]

    # append update: 1 modified + 1 added -> vector segments appear
    r2 = [
        (r[0], r[1], r[2], r[3], r[4] + " rebuilt xylograph")
        if i == 3 else r
        for i, r in enumerate(rows)
    ] + C.generate_rows(21, seed=17)[20:]
    apply_update(
        spark, idx_dir, spark.createDataFrame(r2, C.CORPUS_SCHEMA),
        auto_compact_segments=None,
    )
    assert os.path.isdir(os.path.join(idx_dir, DS.VECTOR_SEG_DIR))

    V.build_vector_index(spark, idx_dir)
    assert not os.path.isdir(os.path.join(idx_dir, DS.VECTOR_SEG_DIR))
    assert not os.path.isdir(os.path.join(idx_dir, DS.VECTOR_TS_DIR))
    assert V._load_vector_meta(idx_dir)["base_generation"] != gen0

    view = V.vector_view(spark, idx_dir)
    dup = (
        view.groupBy("path", "chunk_index").count().where("count > 1").count()
    )
    assert dup == 0, "rebuild must not duplicate segment chunks"
    # the modified doc's NEW content chunks survive (no stale tombstone)
    live = view.where(view.chunk_text.contains("rebuilt xylograph")).count()
    assert live >= 1
