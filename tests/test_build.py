"""Index-build structural tests: deterministic doc_id assignment, murmur
bucket parity, corpus stats vs a hand computation, checkpoint/resume."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import corpus as C
from bm25_index_tool_spark.murmur import spark_hash_string, term_bucket
from bm25_index_tool_spark.tokenize import _tokenize_series


def test_murmur_parity_with_spark_hash(spark):
    terms = ["apple", "the", "café", "x", "", "vip", "layerprd701", "番茄", "a b c"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {r["term"]: r["h"] for r in df.select("term", F.hash("term").alias("h")).collect()}
    for t in terms:
        assert spark_hash_string(t) == got[t], t
    bdf = {
        r["term"]: r["b"]
        for r in df.select("term", F.pmod(F.hash("term"), F.lit(8)).alias("b")).collect()
    }
    for t in terms:
        assert term_bucket(t, 8) == bdf[t]


def test_doc_id_assignment_deterministic_and_order_matched(spark, small_rows):
    """doc_id must equal the 1-based position in corpus.ordered_rows — the
    order the oracle inserts in — regardless of input partitioning."""
    expected = {
        (r[0], r[1]): i + 1 for i, r in enumerate(C.ordered_rows(small_rows))
    }
    for parts in (1, 7):
        df = spark.createDataFrame(small_rows, C.CORPUS_SCHEMA).repartition(parts)
        got = {
            (r["repo"], r["path"]): r["doc_id"]
            for r in B.assign_doc_ids(df, num_partitions=4).select(
                "repo", "path", "doc_id"
            ).collect()
        }
        assert got == expected


def test_corpus_stats_match_hand_computation(small_index, small_rows):
    """N, avgdl, df, tf vs a pure-pandas recomputation over the same text."""
    m = small_index.manifest
    assert m.num_docs == len(small_rows)

    fts_docs = [
        f"{r[0]}/{r[1]} {r[1].rsplit('/', 1)[-1]} {r[4]}"
        for r in C.ordered_rows(small_rows)
    ]
    toks = _tokenize_series(pd.Series(fts_docs))
    dls = toks.map(len)
    assert m.avgdl == pytest.approx(dls.mean(), rel=1e-12)

    # spot-check tf/dl/df for one common and one rare term via postings
    post = small_index.postings()
    df_the = post.where(F.col("term") == "the").count()
    hand_df_the = sum(1 for t in toks if "the" in t)
    assert df_the == hand_df_the

    row = (
        post.where((F.col("term") == "the") & (F.col("doc_id") == 1))
        .collect()
    )
    hand_tf = toks.iloc[0].count("the")
    if hand_tf:
        assert row[0]["tf"] == hand_tf
        assert row[0]["dl"] == len(toks.iloc[0])
    else:
        assert not row


def test_bucket_layout_and_pruning(small_index):
    """Every posting row's partition bucket == pmod(hash(term), B); scanning
    one bucket returns exactly that bucket's terms."""
    m = small_index.manifest
    post = small_index.postings()
    bad = post.where(
        F.col("bucket") != F.pmod(F.hash("term"), F.lit(m.num_buckets))
    ).count()
    assert bad == 0
    b0 = term_bucket("apple", m.num_buckets)
    terms = [
        r["term"]
        for r in post.where(F.col("bucket") == b0).select("term").distinct().collect()
    ]
    assert "apple" in terms
    assert all(term_bucket(t, m.num_buckets) == b0 for t in terms)


def test_checkpoint_resume(spark, tmp_path):
    """FIXTURES.md §7: inject a failure mid-build, resume, assert completed
    stages are skipped and the final index is logically identical to an
    uninterrupted build."""
    rows = C.generate_rows(60, seed=7)
    df = spark.createDataFrame(rows, C.CORPUS_SCHEMA)
    broken = str(tmp_path / "broken")
    clean = str(tmp_path / "clean")

    with pytest.raises(RuntimeError, match="injected failure"):
        B.build_index(spark, df, broken, num_buckets=4, fail_after_stage="docs")

    ckpt = B.BuildCheckpoints(broken)
    assert ckpt.is_complete("docs")
    assert not ckpt.is_complete("postings")
    docs_mtime_before = ckpt.read("docs")

    m1 = B.build_index(spark, df, broken, num_buckets=4, resume=True)
    assert ckpt.read("docs") == docs_mtime_before  # stage skipped, not redone

    m2 = B.build_index(spark, df, clean, num_buckets=4)
    assert m1.num_docs == m2.num_docs
    assert m1.avgdl == m2.avgdl

    p1 = spark.read.parquet(f"{broken}/{B.POSTINGS_DIR}")
    p2 = spark.read.parquet(f"{clean}/{B.POSTINGS_DIR}")
    assert p1.exceptAll(p2).count() == 0 and p2.exceptAll(p1).count() == 0

    # per-bucket lineage metrics recorded
    pm = ckpt.read("postings")
    assert sum(pm["per_bucket_rows"].values()) == pm["rows"] > 0


def test_resume_over_pre_r02_termstats_checkpoint(spark, tmp_path):
    """ADVICE r02: a 'termstats' stage checkpoint written before
    total_tokens was recorded ({rows} only, and no index format) must not
    KeyError on resume — a checkpoint of another format is not trusted, so
    its stage re-runs and records total_tokens."""
    import json
    import os

    rows = C.generate_rows(40, seed=9)
    df = spark.createDataFrame(rows, C.CORPUS_SCHEMA)
    broken = str(tmp_path / "old_ckpt")

    with pytest.raises(RuntimeError, match="injected failure"):
        B.build_index(
            spark, df, broken, num_buckets=4, fail_after_stage="termstats"
        )
    ckpt = B.BuildCheckpoints(broken)
    assert ckpt.is_complete("termstats")
    # rewrite the stage JSON as a pre-r02 build would have left it
    p = ckpt._path("termstats")
    with open(p) as f:
        j = json.load(f)
    j.pop("total_tokens")
    j.pop("format")
    with open(p, "w") as f:
        json.dump(j, f)
    assert not ckpt.is_complete("termstats")

    m1 = B.build_index(spark, df, broken, num_buckets=4, resume=True)
    m2 = B.build_index(spark, df, str(tmp_path / "clean"), num_buckets=4)
    assert m1.total_tokens == m2.total_tokens > 0
    assert m1.avgdl == m2.avgdl


def test_mime_type_column_and_stats(spark, tmp_path):
    """VERDICT r02 #6: mime_type derived from path extension at ingest
    (reference vector/indexer.py:80-99 guess + core text fallback) and
    surfaced as the stats document-types breakdown
    (reference commands/stats.py:116-133)."""
    from bm25_index_tool_spark.build import MIME_BY_EXT, MIME_FALLBACK
    from bm25_index_tool_spark.client import BM25SparkClient

    rows = [
        ("r", "src/a.py", "c", "python", "import os"),
        ("r", "src/b.py", "c", "python", "import sys"),
        ("r", "web/x.html", "c", "html", "<html>hello</html>"),
        ("r", "conf/y.YAML", "c", "yaml", "a: 1"),       # case-folded ext
        ("r", "notes/z.unknownext", "c", "txt", "plain"),  # fallback
        ("r", "LICENSE", "c", "txt", "no extension"),      # fallback
    ]
    client = BM25SparkClient(spark, str(tmp_path / "root"))
    client.create_index(
        "m", spark.createDataFrame(rows, C.CORPUS_SCHEMA), num_buckets=2
    )
    docs = client._require("m").docs()
    got = {r["path"]: r["mime_type"] for r in docs.collect()}
    assert got["src/a.py"] == MIME_BY_EXT["py"]
    assert got["web/x.html"] == MIME_BY_EXT["html"]
    assert got["conf/y.YAML"] == MIME_BY_EXT["yaml"]
    assert got["notes/z.unknownext"] == MIME_FALLBACK
    assert got["LICENSE"] == MIME_FALLBACK

    st = client.stats("m")
    assert st["by_mime"][MIME_BY_EXT["py"]] == 2
    assert st["by_mime"][MIME_FALLBACK] == 2
    # ordered count-desc like the reference stats view
    assert list(st["by_mime"].values()) == sorted(
        st["by_mime"].values(), reverse=True
    )


# A build of the 200-doc one-file corpus below, at num_buckets=8 on
# local[4], when every stage fanned out to max(num_buckets,
# defaultParallelism) and the content was shuffled by doc_id before the
# docs write and again before the tokenizer: 18 Spark jobs, whose stages
# held 134 tasks.
FANNED_OUT_JOBS = 18
FANNED_OUT_TASKS = 134
DOCS_SCHEMA = (
    "`repo` string, `path` string, `commit` string, `lang` string, "
    "`content` string, `full_path` string, `filename` string, "
    "`doc_id` bigint, `content_sha256` string, `content_md5` string, "
    "`size` bigint, `mime_type` string, `indexed_at` timestamp, `doc_pt` int"
)


def test_build_fans_out_to_the_data(spark, small_rows, tmp_path):
    """The build sizes its docs, postings and termstats writes to the
    corpus with the update path's rule, moves the content through one
    shuffle, and still writes one sorted file per partition dir."""
    import glob
    import os

    import pyarrow.parquet as pq

    src = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(small_rows, C.CORPUS_SCHEMA).coalesce(1).write.parquet(src)
    corpus = spark.read.parquet(src)  # the footer-inference job runs here
    idx = str(tmp_path / "idx")
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    m = B.build_index(spark, corpus, idx, num_buckets=8)
    j1 = dag.nextJobId()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    status = sc.statusTracker()
    stages = {s for j in range(j0, j1) for s in status.getJobInfo(j).stageIds}
    tasks = sum(status.getStageInfo(s).numTasks for s in stages)
    assert j1 - j0 <= FANNED_OUT_JOBS - 3
    assert tasks < FANNED_OUT_TASKS

    ckpt = B.BuildCheckpoints(idx)
    sized = B.sized_parallelism(spark, len(small_rows))
    for stage in ("docs", "postings", "termstats"):
        assert ckpt.read(stage)["tasks"] == sized, stage

    for sub, key in (
        (B.DOCS_DIR, "doc_pt"),
        (B.POSTINGS_DIR, "bucket"),
        (B.TERMSTATS_DIR, "bucket"),
    ):
        dirs = glob.glob(os.path.join(idx, sub, f"{key}=*"))
        assert len(dirs) == 8, sub
        for d in dirs:
            files = glob.glob(os.path.join(d, "*.parquet"))
            assert len(files) == 1, d
            if sub == B.POSTINGS_DIR:
                t = pq.read_table(files[0], columns=["term", "doc_id"])
                keys = list(zip(t["term"].to_pylist(), t["doc_id"].to_pylist()))
                assert keys == sorted(keys), d

    assert m.docs_schema == DOCS_SCHEMA
    assert B.read_table(spark, idx, B.DOCS_DIR, m).columns[-1] == "doc_pt"
