"""Query latency vs outstanding LSM segment count (VERDICT r03 #5).

The LSM append update trades write cost for read amplification: every
outstanding segment adds one more parquet scan to the live postings/docs
views until compaction folds them.  This measures that curve — query
p50/p95 over the same 8-query set at 0/1/4/16/64 outstanding segments on
the sf0.1 bench index — so the `auto_compact_segments` default is grounded
in data, not vibes.

Usage: python BENCH/segment_curve.py   (quiet window; ~6-8 min)
Appends nothing; prints one JSON line.  Paste the table into
BENCH/BASELINE_APPENDIX.md (hand-maintained).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "spark join table",
    "window merge",
    "vector stream",
    "table scan filter",
    "data query",
    "hash group order",
    "batch window",
    "customer line value",
]

CHECKPOINTS = [0, 1, 4, 16, 64]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replication = int(os.environ.get("BENCH_REPLICATION", "8"))
    partitions = int(os.environ.get("BENCH_PARTITIONS", str(max(cpus, 16))))

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("segment-curve")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", "/dev/shm/bm25_segcurve_local")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import delta_store as DS
    from bm25_index_tool_spark.incremental import apply_update
    from bm25_index_tool_spark.score import LoadedIndex, score_query

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = base.count()
    corpus = (
        spark.range(0, n_base * replication, 1, partitions)
        .withColumn("doc_id", F.col("id") % n_base)
        .withColumn("rep", (F.col("id") / n_base).cast("long"))
        .join(F.broadcast(base), "doc_id")
        .select(
            F.concat(F.lit("org"), (F.col("doc_id") % 7).cast("string")).alias("repo"),
            F.concat(
                F.lit("src/rep_"), F.col("rep").cast("string"),
                F.lit("/doc_"), F.col("doc_id").cast("string"), F.lit(".txt"),
            ).alias("path"),
            F.lit("c0").alias("commit"),
            "lang",
            F.col("text").alias("content"),
        )
    )
    n_files = n_base * replication

    idx_dir = tempfile.mkdtemp(prefix="bm25_segcurve_", dir="/dev/shm")
    result: dict = {
        "metric": "query_latency_vs_segments",
        "sf": sf_dir,
        "n_files": n_files,
        "cpus": cpus,
        "points": [],
    }
    try:
        B.build_index(
            spark, corpus, idx_dir, name="curve",
            num_buckets=partitions, num_partitions=partitions,
        )

        def measure(n_segs: int) -> None:
            idx = LoadedIndex.open(spark, idx_dir)
            score_query(idx, QUERIES[0], 10, include_content=False).collect()
            lat = []
            for q in QUERIES:
                t = time.monotonic()
                score_query(idx, q, 10, include_content=False).collect()
                lat.append(time.monotonic() - t)
            ls = sorted(lat)
            result["points"].append(
                {
                    "segments": n_segs,
                    "p50": round(ls[len(ls) // 2], 3),
                    "p95": round(ls[max(0, int(len(ls) * 0.95) - 1)], 3),
                    "load": round(os.getloadavg()[0], 2),
                }
            )
            print(f"  segments={n_segs}: {result['points'][-1]}", file=sys.stderr)

        measure(0)
        # micro-upserts: ~n_files/400 docs each, every tick a distinct
        # modification so each append commits a real segment
        tick = 0
        k = max(n_files // 400, 1)
        for target in CHECKPOINTS[1:]:
            while len(DS.segment_ids(idx_dir)) < target:
                tick += 1
                batch = corpus.where(
                    F.crc32(F.col("path")) % k == tick % k
                ).withColumn(
                    "content",
                    F.concat_ws(
                        " ", F.col("content"), F.lit(f"segtick{tick}")
                    ),
                )
                apply_update(
                    spark, idx_dir, batch, mode="upsert",
                    auto_compact_segments=None,
                )
            measure(len(DS.segment_ids(idx_dir)))

        # and the post-fold floor: tiered merge first, then full compaction
        t = time.monotonic()
        DS.merge_segments(spark, idx_dir, upto_seg=1 << 30)
        result["tiered_merge_64segs_sec"] = round(time.monotonic() - t, 3)
        measure(len(DS.segment_ids(idx_dir)))
        t = time.monotonic()
        DS.compact_index(spark, idx_dir)
        result["full_compact_sec"] = round(time.monotonic() - t, 3)
        measure(0)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
