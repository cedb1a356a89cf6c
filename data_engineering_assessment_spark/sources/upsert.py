"""Keyed upsert (MERGE) into parquet, without a table format.

Plain parquet has no transaction log, so MERGE is rewrite-based:
delete-matching (left anti join on the key) + insert (union).  The
scale lever is *scoping the rewrite*: with a partitioned layout and
the per-write ``partitionOverwriteMode=dynamic`` option, only the
partitions that actually contain updated keys are read, merged and
replaced — untouched partition directories are never rewritten
(asserted via file mtimes in tests/test_layout.py).  At 100 TB an
unpartitioned upsert rewrites the world; a date-partitioned upsert
rewrites a few directories.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str | list[str],
    partition_by: str | None = None,
) -> None:
    """Merge ``updates`` into the parquet dataset at ``path`` by key:
    existing rows with a matching key are replaced, others kept.

    ``partition_by`` enables the partition-scoped path: only
    partitions present in ``updates`` participate.  The merged slice
    is localCheckpoint-ed before the write because the job both reads
    and overwrites ``path`` — materializing first breaks the cycle
    (and keeps the rewrite a bounded two-shuffle job: anti join +
    write)."""
    keys = [key] if isinstance(key, str) else key
    if not os.path.exists(path):
        w = updates.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        return

    target = spark.read.parquet(path)
    if partition_by:
        parts = [
            r[0] for r in updates.select(partition_by).distinct().collect()
        ]
        target = target.filter(F.col(partition_by).isin(parts))
    merged = (
        target.join(updates.select(*keys), keys, "left_anti")
        .unionByName(updates)
        .localCheckpoint(eager=True)
    )
    if partition_by:
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_by).parquet(path)
    else:
        merged.write.mode("overwrite").parquet(path)
