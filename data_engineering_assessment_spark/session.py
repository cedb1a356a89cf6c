"""SparkSession factory with pinned, scale-aware defaults.

The reference runs Spark 3.0.0 local mode with default confs
(``/root/reference/README.rst:56-68``); we pin the confs that matter
for determinism (session timezone) and for scale (AQE, shuffle
partitions sized to the cluster, Arrow transfer for the few pandas
paths).
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# InferFiltersFromGenerate inserts `size(G)>0 AND isnotnull(G)` above
# every explode, and predicate pushdown then re-inlines G through the
# producing projections.  When G is a computed array (shingles, hash
# signatures) the whole construction is re-evaluated 2× per input row
# in the scan filter — measured 8× slowdown on the shingle index
# build.  The engine always pre-filters explode inputs explicitly
# (e.g. `word_count >= n`), so the inferred filter only costs.
_EXCLUDED_OPT_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def get_spark(
    app_name: str = "dea-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster the ``master`` is supplied externally; here we
    default to ``local[$SPARK_GRAFT_CPUS]``.  All settings are also
    safe at 1000-executor scale: AQE coalesces / skew-splits at
    runtime, so ``shuffle.partitions`` is an upper bound, not a tuning
    knob to get exactly right.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep \r progress-bar junk out of captured stdout (the bench
        # driver parses a bounded tail of it)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.optimizer.excludedRules", _EXCLUDED_OPT_RULES)
        # exploit sortBy order of bucketed layouts (one file per
        # bucket — Spark self-checks and ignores the flag otherwise):
        # removes the per-partition |E| sort in SMJs against the
        # trade-edge layout (plans/analytics.py:_trade_edges)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def ensure_deterministic_session(spark: SparkSession) -> SparkSession:
    """Pin runtime confs that affect query *results* (not just speed).

    Called at the top of every query builder so results are identical
    whether the session came from :func:`get_spark` or was handed to
    us by an external driver.  ``spark.sql.session.timeZone`` is a
    runtime conf, so this is safe on a live session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Pin result-affecting dialect confs to the values every local
    # verification ran under, in case the external session was built
    # with different defaults: ANSI mode changes invalid-cast /
    # overflow semantics (error vs NULL), the parser policy changes
    # how datetime patterns resolve.  Both are runtime confs.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    # Results-neutral perf confs (see get_spark): applied here too so
    # externally-created sessions (the driver's) get them.
    spark.conf.set("spark.sql.optimizer.excludedRules", _EXCLUDED_OPT_RULES)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, object]) -> Iterator[None]:
    """Set runtime confs for the body of a ``with`` block, then restore
    each to its previous value (or unset it if it was unset).

    Used for confs a streaming query reads once at ``.start()``
    (``spark.sql.shuffle.partitions`` = state shards,
    ``spark.sql.streaming.noDataMicroBatches.enabled``): the query
    clones the session conf when it starts, so the scope only needs
    to wrap the start call.

    SERIAL-EXECUTION ASSUMPTION: the conf is session-global, so a
    BATCH query planned concurrently inside the ``with`` block from
    another driver thread would pick up the scoped values.  Every
    in-repo call site runs queries serially (replay/pytest/perfbench
    execute one op at a time), and the window is a few hundred ms
    around ``.start()``.  If the engine ever gains a concurrent
    driver, move the scope to per-query options where Spark has them
    or to a dedicated session clone for streaming starts."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
