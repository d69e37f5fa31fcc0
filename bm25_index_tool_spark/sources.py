"""Corpus source adapters (SURVEY.md §2.1; BASELINE.json ``input_hint``
names an Iceberg table as the production input shape).

A corpus URI selects the connector; everything downstream (build, client,
incremental) sees the same (repo, path, commit, lang, content) DataFrame:

* ``/path/to/file.parquet`` or ``parquet:/path``  — plain parquet (sandbox
  default; the driver's testdata shape).
* ``iceberg:catalog.db.table``                    — an Iceberg table via
  the Spark catalog (``spark.table``).  Requires the Iceberg runtime jars
  + catalog config on the cluster; this sandbox has neither, so the path
  is import-gated and the tests exercise it only for graceful failure.
* ``table:name``                                  — any catalog table
  (Hive/Unity/Iceberg/Delta all surface through ``spark.table``).

At 100 TB the Iceberg path is the right default: snapshot isolation makes
the update diff race-free (read one snapshot), partition/file pruning
serves the discovery predicates, and incremental maintenance can become a
single ``MERGE INTO`` (template below) executed by the Iceberg writer
instead of our parquet segment append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def read_corpus(spark: SparkSession, uri: str) -> DataFrame:
    """URI → corpus DataFrame with the canonical column set (extra columns
    are pruned so downstream unions/diffs stay schema-stable)."""
    if uri.startswith("iceberg:"):
        df = _read_catalog_table(spark, uri[len("iceberg:"):], flavor="iceberg")
    elif uri.startswith("table:"):
        df = _read_catalog_table(spark, uri[len("table:"):], flavor="catalog")
    elif uri.startswith("parquet:"):
        df = spark.read.parquet(uri[len("parquet:"):])
    else:
        df = spark.read.parquet(uri)
    missing = [c for c in CORPUS_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"corpus source {uri!r} is missing required columns {missing}; "
            f"expected {CORPUS_COLUMNS}"
        )
    return df.select(*CORPUS_COLUMNS)


def _read_catalog_table(spark: SparkSession, name: str, *, flavor: str) -> DataFrame:
    try:
        return spark.table(name)
    except Exception as e:  # catalog/jar absent, table missing, …
        raise ValueError(
            f"cannot read {flavor} table {name!r}: {e}. "
            "Iceberg sources need the iceberg-spark-runtime jar and a "
            "configured catalog (spark.sql.catalog.<name>)."
        ) from e


# I6 upsert/delete as one Iceberg MERGE (SURVEY.md §2.3): equivalent to
# the update diff + apply_update when the index itself is Iceberg-backed.
# Kept as a template — executed only where an Iceberg catalog exists.
MERGE_CORPUS_SQL = """
MERGE INTO {target} t
USING {updates} u
  ON t.repo = u.repo AND t.path = u.path
WHEN MATCHED AND u.is_deleted THEN DELETE
WHEN MATCHED AND t.content_md5 <> u.content_md5 THEN UPDATE SET *
WHEN NOT MATCHED AND NOT u.is_deleted THEN INSERT *
"""


def merge_corpus_sql(target: str, updates: str) -> str:
    """Render the I6 MERGE INTO for an Iceberg-backed corpus table."""
    return MERGE_CORPUS_SQL.format(target=target, updates=updates)
