"""Structured-Streaming ingestion (SURVEY.md §2.10).

The reference has no streaming surface — its update loop is a batch diff
(reference ``commands/update.py:149-253``).  At 100-TB scale the natural
extension is a continuously-fed index: new/changed corpus files land in a
drop directory (or Kafka/Iceberg CDC feed), and the index absorbs them as
micro-batches without ever re-reading the unchanged corpus.

Spark-first shape: ``readStream`` over the drop directory → ``writeStream
.foreachBatch`` → the SAME segment-append update the batch path uses
(incremental.apply_update, mode="upsert").  Design points:

* **Upsert semantics per micro-batch** — a batch is a partial corpus;
  absence is not deletion (deletions remain an explicit batch operation,
  as in the reference).
* **Replay-safe** — the update diffs on (full_path, md5(content)), so a
  re-delivered batch (failure/restart between foreachBatch and the
  source-offset commit) produces an empty diff and the index is
  unchanged.  A crash *inside* the update is covered by the sink-side
  segment journal (delta_store.recover_segments_if_needed rolls the
  half-applied update forward before the replayed batch is diffed) —
  together these give effectively-once application; the exactly-once guarantee is the pair
  (md5 diff idempotence + journal), not the diff alone (ADVICE r02).
* **Within-batch dedup** — a micro-batch can carry several rows for one
  path (a file rewritten twice before a trigger, or present in two
  dropped files); `_merge` keeps the newest row per (repo, path) by
  source-file modification time before the diff, so `apply_update`
  never sees duplicate full_paths (ADVICE r02).
* **Checkpointed** — source offsets live in ``checkpoint_dir`` (Spark's
  own WAL); the index's per-stage lineage checkpoints cover the inside of
  a batch.
* ``trigger=availableNow`` drains the backlog and stops (incremental
  catch-up job); omit it for a long-running ``processingTime`` daemon.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORPUS_STREAM_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)


def stream_index_updates(
    spark: SparkSession,
    index_dir: str,
    source_dir: str,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    auto_compact_segments: int | None = 16,
):
    """Start (and return) a streaming query that merges every corpus
    parquet file appearing under ``source_dir`` into the index at
    ``index_dir``.  Callers own the returned query's lifecycle
    (``awaitTermination`` / ``stop``).

    Trigger: an explicit ``processing_time`` (e.g. ``"10 seconds"``)
    makes a continuous daemon and takes precedence; otherwise
    ``available_now=True`` (the default) drains the current backlog and
    terminates."""
    from pyspark.sql import Window, functions as F

    reader = spark.readStream.schema(CORPUS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # _metadata must be selected ON the streaming source relation — inside
    # foreachBatch the batch arrives as a plain RDD-backed frame where the
    # hidden file-metadata column no longer resolves
    stream = reader.parquet(source_dir).withColumns(
        {
            "_mtime": F.col("_metadata.file_modification_time"),
            "_src": F.col("_metadata.file_path"),
        }
    )

    def _merge(batch_df, batch_id: int) -> None:
        from bm25_index_tool_spark.incremental import apply_update

        # within-batch dedup (ADVICE r02): keep the newest row per path by
        # source-file mtime, deterministically tie-broken by source path +
        # content hash
        w = Window.partitionBy("repo", "path").orderBy(
            F.col("_mtime").desc_nulls_last(),
            F.col("_src").desc(),
            F.md5("content").desc(),
        )
        deduped = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_mtime", "_src", "_rn")
        )
        # empty batches are no-ops inside apply_update (empty diff
        # short-circuit).  Past auto_compact_segments outstanding segments
        # the trigger pays a TIERED merge (fold the oldest half into one
        # segment, cost ∝ delta — merge_segments), never the full O(base)
        # fold; run compact_index out-of-band for zero read amplification.
        apply_update(
            spark, index_dir, deduped, mode="upsert",
            auto_compact_segments=auto_compact_segments,
            auto_compact_strategy="tiered",
        )

    writer = stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    # an explicit processing_time wins over the available_now DEFAULT —
    # otherwise a caller asking for a continuous daemon silently gets a
    # drain-once query (available_now=True is the default, so reaching
    # the elif required ALSO passing available_now=False)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    elif available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
