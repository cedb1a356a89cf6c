"""operators/rankstats.py — exact global order statistics without a
single-partition window (round 15).

The contract under test: ``global_order_stats`` returns EXACTLY what
the naive unpartitioned window would (global row numbers, inclusive
running sums, grand totals), and ``ntile_from_rank`` reproduces SQL
NTILE semantics bit-for-bit — so the oracle-parity of every rewritten
key (deciles, Pareto/ABC, RFM, equi-depth) follows from these two
identities plus arithmetic.
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineering_assessment_spark.operators.rankstats import (
    RN,
    global_order_stats,
    ntile_from_rank,
)


def _naive(df, order_by):
    w = Window.orderBy(*order_by)
    return df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )


def test_matches_unpartitioned_window_exactly(spark):
    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(1, 1001)]
    # heavy ties (v in 0..50) exercise the range-boundary handling;
    # a skewed input partitioning exercises the sampler
    df = spark.createDataFrame(rows, "id long, v long").repartition(13)
    order = [F.desc("v"), F.asc("id")]
    out, totals = global_order_stats(df, order, running=("v",))
    got = {r["id"]: (r[RN], r["__cum_v"]) for r in out.collect()}
    exp = {r["id"]: (r["rn"], r["cum"]) for r in _naive(df, order).collect()}
    assert got == exp
    assert totals == {"rows": 1000, "v": sum(v for _, v in rows)}


def test_ntile_parity_with_sql_ntile(spark):
    rng = random.Random(11)
    df = spark.createDataFrame(
        [(i, rng.randint(0, 30)) for i in range(1, 301)], "id long, v long"
    )
    order = [F.asc("v"), F.asc("id")]
    out, totals = global_order_stats(df, order)
    w = Window.orderBy(*order)
    for n in (4, 8, 10, 7, 300, 301):
        got = {
            r["id"]: r["b"]
            for r in out.withColumn("b", ntile_from_rank(n, totals["rows"])).collect()
        }
        exp = {
            r["id"]: r["b"]
            for r in df.withColumn("b", F.ntile(n).over(w)).collect()
        }
        assert got == exp, f"NTILE({n}) diverged"


def test_fewer_rows_than_buckets(spark):
    df = spark.createDataFrame([(1, 5), (2, 3)], "id long, v long")
    out, totals = global_order_stats(df, [F.asc("v"), F.asc("id")])
    got = {
        r["id"]: r["b"]
        for r in out.withColumn("b", ntile_from_rank(10, totals["rows"])).collect()
    }
    # SQL NTILE with N < n gives bucket i to row i
    assert got == {2: 1, 1: 2}


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, v long")
    out, totals = global_order_stats(df, [F.asc("v")], running=("v",))
    assert out.count() == 0
    assert totals == {"rows": 0, "v": 0}


def test_no_unpartitioned_window_in_plan(spark):
    """The operator's whole point: its own executed plan contains no
    single-partition Window (the per-partition window is partitioned
    by ``__pid``) and no single-partition Exchange feeding one."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from gen_plans import count_unpartitioned_windows

    df = spark.range(1, 500).select(
        F.col("id"), (F.col("id") % 17).alias("v")
    )
    out, _ = global_order_stats(df, [F.asc("v"), F.asc("id")], running=("v",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert count_unpartitioned_windows(plan) == 0, plan
