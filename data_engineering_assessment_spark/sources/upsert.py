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

Each unpartitioned version this module publishes has its schema
recorded, keyed by the version directory's realpath and mtime
(``publish_version`` writes a version once), so the next merge reads
it with that schema instead of running a schema-inference job.  A
version written by anyone else is inferred, so a target with columns
the updates lack still fails ``unionByName`` instead of losing them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .layout import dataset_path, parquet_file_count, publish_version

# (realpath, st_mtime_ns) of a version this module published -> the
# schema a parquet read of it reports
_SCHEMAS: dict[tuple[str, int], T.StructType] = {}


def _version_key(path: str) -> tuple[str, int]:
    real = os.path.realpath(path)
    return real, os.stat(real).st_mtime_ns


def _as_read(t: T.DataType) -> T.DataType:
    """``t`` as a parquet read reports it: every field, array element
    and map value nullable."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_read(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_read(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_read(t.keyType), _as_read(t.valueType), True)
    return t


def _publish(path: str, df: DataFrame) -> None:
    """``publish_version`` ``df`` at ``path`` and record its schema."""
    publish_version(path, df.write.parquet)
    for key in list(_SCHEMAS):
        if not os.path.isdir(key[0]):
            _SCHEMAS.pop(key, None)  # a version publish_version has deleted
    _SCHEMAS[_version_key(path)] = _as_read(df.schema)


def _read_target(spark: SparkSession, path: str) -> DataFrame:
    schema = _SCHEMAS.get(_version_key(path))
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


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
                _publish(path, updates)
                return
            merged = (
                _read_target(spark, path)
                .join(updates.select(*keys), keys, "left_anti")
                .unionByName(updates)
                .coalesce(parquet_file_count(path))
            )
            _publish(path, merged)
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
