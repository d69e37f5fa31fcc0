"""Incremental index maintenance (SURVEY.md §2.3 I3–I6, §2.5 J3).

The reference diffs a current file listing against the stored documents
table with Python dicts and md5 compares (reference
``core/incremental.py:68-126``), then applies per-row SQLite upserts.
Here the update is the LSM segment append of ``delta_store.py``: one
narrow (full_path, md5) diff, tokenization of added∪modified documents
only, and one immutable segment plus tombstones per update, committed by
the segment journal.  Compaction (``delta_store.compact_index``) and the
tiered ``merge_segments`` bound the read amplification this trades for.

This module keeps the public entry point, ``apply_update``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bm25_index_tool_spark.delta_store import _locked_writer


@_locked_writer
def apply_update(
    spark: SparkSession,
    index_dir: str,
    current: DataFrame,
    *,
    num_buckets: int | None = None,
    mode: str = "full",
    auto_compact_segments: int | None = 16,
    auto_compact_strategy: str = "full",
) -> "object":
    """True incremental update; returns the new IndexManifest.

    ``num_buckets`` is accepted for API compatibility, but the bucket
    layout is fixed by the existing index: a different value raises
    (changing it requires a full rebuild).

    ``mode="full"``: ``current`` is the complete corpus — rows missing from
    it are deletions (the reference's update-vs-stored diff).
    ``mode="upsert"``: ``current`` is a partial delta (a streaming
    micro-batch) — only adds/modifies, never deletes.

    Past ``auto_compact_segments`` outstanding segments the update folds
    them: ``auto_compact_strategy="full"`` compacts into the base,
    ``"tiered"`` merges the oldest half (see delta_store.merge_segments).
    """
    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import delta_store as DS

    if num_buckets:
        nb = B.load_manifest(index_dir).num_buckets
        if num_buckets != nb:
            raise ValueError(
                f"bucket layout is fixed at build time ({nb}); "
                "rebuild to change it"
            )
    return DS.apply_update_append(
        spark, index_dir, current, mode=mode,
        auto_compact_segments=auto_compact_segments,
        auto_compact_strategy=auto_compact_strategy,
    )
