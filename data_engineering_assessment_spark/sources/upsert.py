"""Keyed upsert (MERGE) into parquet, without a table format.

Plain parquet has no transaction log, so MERGE is rewrite-based:
delete-matching (left anti join on the key) + insert (union).

Unpartitioned, the merged table is written as a new versioned sibling
of the target and published by one atomic symlink flip
(``layout.publish_version``): the job reads the current version and
writes the next, so a write that fails — a crash, a failed batch the
stream replays — leaves the previous table readable.  At 100 TB an
unpartitioned upsert rewrites the world.

The scale lever is *scoping the rewrite*: with a partitioned layout
and the per-write ``partitionOverwriteMode=dynamic`` option, only the
partitions that actually contain updated keys are read, merged and
replaced — untouched partition directories are never rewritten
(asserted via file mtimes in tests/test_layout.py).  A
date-partitioned upsert rewrites a few directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import dataset_path, parquet_file_count, publish_version


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str | list[str],
    partition_by: str | None = None,
) -> None:
    """Merge ``updates`` into the parquet dataset at ``path`` by key:
    existing rows with a matching key are replaced, others kept.

    Without ``partition_by`` the create and every merge go through
    ``publish_version``: ``path`` becomes a symlink to the newest
    complete version, and a failed write leaves it where it was.  A
    merge writes ``layout.parquet_file_count(path)`` files, so the
    version a stream of small batches rewrites stays one file instead
    of one per shuffle partition of the merge.

    ``partition_by`` enables the partition-scoped path: only
    partitions present in ``updates`` participate, and dynamic
    partition overwrite replaces them in place, one partition at a
    time — that path is not crash-atomic.  Its merged slice is
    localCheckpoint-ed before the write because the job both reads
    and overwrites ``path``; materializing first breaks the cycle."""
    keys = [key] if isinstance(key, str) else key
    # a merge reads ``updates`` two or three times (key side, union,
    # partition list): evaluate it once — for a stream batch, that is
    # one run of the stateful plan and one state-store commit per shard
    updates = updates.persist()
    try:
        if not partition_by:
            try:
                dataset_path(path)
            except FileNotFoundError:
                publish_version(path, updates.write.parquet)
                return
            merged = (
                spark.read.parquet(path)
                .join(updates.select(*keys), keys, "left_anti")
                .unionByName(updates)
                .coalesce(parquet_file_count(path))
            )
            publish_version(path, merged.write.parquet)
            return

        if not os.path.exists(path):
            updates.write.mode("overwrite").partitionBy(partition_by).parquet(path)
            return
        parts = [r[0] for r in updates.select(partition_by).distinct().collect()]
        merged = (
            spark.read.parquet(path)
            .filter(F.col(partition_by).isin(parts))
            .join(updates.select(*keys), keys, "left_anti")
            .unionByName(updates)
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_by).parquet(path)
    finally:
        updates.unpersist()
