"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in ``data_engineering_assessment_spark``; this
module is a thin adapter over its query registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_engineering_assessment_spark import plans

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (multi-dimension pricing join, all-BIGINT/STRING
    output) on /root/testdata/sf0.001; driver checks rows>0."""
    return plans.queries()["multi_join_pricing"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return plans.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per oracle-able key; sketch/approx ops
    (minhash, simhash, LSH-ANN, HLL) are intentionally omitted →
    rows-only check, with accuracy asserted in tests/ instead."""
    return plans.oracles()
