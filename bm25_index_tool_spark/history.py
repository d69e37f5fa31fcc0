"""Search-history log (SURVEY.md §2.9 C2, §2.8 P5).

The reference keeps a separate SQLite DB with one row per executed query
(reference ``core/history.py:48-146``).  Here the driver appends one JSON
line per search to ``<root>/_history/history.jsonl`` — no Spark job per
search — and every read is a Spark DataFrame over that file, queried with
DataFrame ops: `search` replicates the
``WHERE query LIKE '%pat%' ORDER BY timestamp DESC LIMIT n`` path
(reference ``core/history.py:190-232``).

Roots written before the JSONL log keep their history: parquet part files
already in the directory are read alongside it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

HISTORY_SCHEMA = (
    "id long, timestamp string, indices string, query string, top_k int,"
    " result_count int, elapsed_seconds double, path_filter string,"
    " exclude_path string"
)

HISTORY_FILE = "history.jsonl"


class SearchHistory:
    def __init__(self, spark: SparkSession, history_dir: str):
        self.spark = spark
        self.dir = history_dir
        self.path = os.path.join(history_dir, HISTORY_FILE)

    def log(
        self,
        indices: list[str],
        query: str,
        top_k: int,
        result_count: int,
        elapsed_seconds: float,
        path_filter: list[str] | None = None,
        exclude_path: list[str] | None = None,
    ) -> None:
        entry = {
            "id": time.time_ns(),  # monotone-enough unique id
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "indices": json.dumps(indices),
            "query": query,
            "top_k": top_k,
            "result_count": result_count,
            "elapsed_seconds": float(elapsed_seconds),
            "path_filter": json.dumps(path_filter or []),
            "exclude_path": json.dumps(exclude_path or []),
        }
        line = (json.dumps(entry) + "\n").encode("utf-8")
        os.makedirs(self.dir, exist_ok=True)
        # one O_APPEND write of the whole line: appends from several
        # processes land whole, never interleaved
        fd = os.open(self.path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, line)
        finally:
            os.close(fd)

    def _legacy_parts(self) -> list[str]:
        """Parquet part files written by the former one-job-per-search log."""
        try:
            names = os.listdir(self.dir)
        except OSError:
            return []
        return [
            os.path.join(self.dir, n)
            for n in sorted(names)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        ]

    def df(self) -> DataFrame:
        reader = self.spark.read.schema(HISTORY_SCHEMA)
        frames = []
        if os.path.exists(self.path):
            frames.append(reader.json(self.path))
        legacy = self._legacy_parts()
        if legacy:
            frames.append(reader.parquet(*legacy))
        if not frames:
            return self.spark.createDataFrame([], HISTORY_SCHEMA)
        return reduce(DataFrame.unionByName, frames)

    def recent(self, n: int = 10) -> list:
        return (
            self.df().orderBy(F.desc("timestamp"), F.desc("id")).limit(n).collect()
        )

    def search(self, pattern: str, n: int = 10) -> list:
        """Substring search over past queries — reference P5 semantics."""
        return (
            self.df()
            .where(F.col("query").contains(pattern))
            .orderBy(F.desc("timestamp"), F.desc("id"))
            .limit(n)
            .collect()
        )

    def count(self) -> int:
        return self.df().count()

    def clear(self) -> int:
        """Permanently delete all history, JSONL and legacy parquet alike;
        returns the number of entries deleted (reference
        ``core/history.py:234-249`` / ``commands/history.py:145-211``)."""
        n = self.count()
        shutil.rmtree(self.dir, ignore_errors=True)
        return n

    def stats(self, top_n: int = 5) -> dict:
        """History statistics: total entry count (reference
        ``commands/history.py:213-250``), plus the per-query breakdown the
        Spark-read log makes one aggregate away — top queries by frequency
        and average elapsed seconds."""
        df = self.df()
        row = df.agg(
            F.count("*").alias("n"),
            F.avg("elapsed_seconds").alias("avg_elapsed"),
        ).collect()[0]
        top = (
            df.groupBy("query")
            .agg(
                F.count("*").alias("n"),
                F.avg("elapsed_seconds").alias("avg_elapsed"),
            )
            .orderBy(F.desc("n"), F.asc("query"))
            .limit(top_n)
            .collect()
        )
        return {
            "total": int(row["n"]),
            "avg_elapsed_seconds": (
                round(float(row["avg_elapsed"]), 6)
                if row["avg_elapsed"] is not None
                else 0.0
            ),
            "top_queries": [
                {
                    "query": r["query"],
                    "count": int(r["n"]),
                    "avg_elapsed_seconds": round(float(r["avg_elapsed"]), 6),
                }
                for r in top
            ],
        }
