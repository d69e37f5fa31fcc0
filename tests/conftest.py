"""Shared fixtures: one local SparkSession, the seeded synthetic corpus,
a built index, and the SQLite-FTS5 differential oracle loaded with the
identical corpus in the identical doc order."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from bm25_index_tool_spark import build as B  # noqa: E402
from bm25_index_tool_spark import corpus as C  # noqa: E402
from tests.oracle import FTS5Oracle  # noqa: E402

N_SMALL = 200  # FIXTURES.md §1 "small" corpus


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("bm25-index-tool-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_rows():
    return C.generate_rows(N_SMALL, seed=42)


@pytest.fixture(scope="session")
def small_corpus(spark, small_rows):
    return spark.createDataFrame(small_rows, C.CORPUS_SCHEMA).repartition(4)


@pytest.fixture(scope="session")
def small_index(spark, small_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx") / "small")
    B.build_index(spark, small_corpus, index_dir, name="small", num_buckets=8)
    from bm25_index_tool_spark.score import LoadedIndex

    return LoadedIndex.open(spark, index_dir)


@pytest.fixture(scope="session")
def oracle(small_rows):
    o = FTS5Oracle()
    o.add_documents(C.ordered_rows(small_rows))
    return o


# Reference query set (FIXTURES.md §3) — each row exercises a scoring branch.
QUERY_SET = [
    "apple",                        # single term, positive idf
    "the",                          # df > N/2 → idf ≤ 0 → 1e-6 clamp
    "apple banana",                 # implicit AND
    "kubernetes networking",        # reference README canonical example
    "vip-layerprd701.dc-ratingen.de",  # tokenizer splitting golden
    "snake_case_name",              # underscore split
    "getHttpResponse",              # case folding of camelCase
    "module_3",                     # appears only in paths/filenames
    "café",                         # ASCII query tokenizer: café → caf
    "data value",                   # two common terms
    "zanzibar",                     # rare term
    "zzz_not_present",              # empty result set
    "apple apple",                  # duplicate query token multiplicity
    "banana apple banana",          # duplicate token beside a single one
    "spark partition shuffle",      # 3-term AND
]
