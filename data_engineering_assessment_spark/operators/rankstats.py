"""Exact global order statistics WITHOUT a single-partition window.

An unpartitioned ``Window.orderBy(...)`` funnels its whole input into
one task (``Exchange SinglePartition``) — fine for an hour/month/type
domain, fatal for anything entity-proportional (customers, parts,
documents): the round-14 ``vocab_growth_curve`` finding, generalized.
This module is the reusable cure, the [[global_shuffle]] pattern with
data-dependent range bounds:

1. ``repartitionByRange(P, *order_by)`` — Spark's RangePartitioning
   samples split points, so every partition holds a contiguous run of
   the global order and partition index IS coarse rank order (the
   same property global_shuffle gets a priori from md5's first byte);
2. each partition computes row numbers / running sums independently
   (a PARTITIONED window — parallel, bounded state);
3. a P-row per-partition histogram is prefix-summed on the driver
   (bounded driver state, like the PCA eigendecomposition and
   global_shuffle's 256 offsets) and broadcast-joined back to convert
   in-partition rank/sum to global rank/sum.

The result is EXACTLY the unpartitioned window's answer — rank and
running sums depend only on the total order, never on where the
sampled bounds landed — at the cost of one range shuffle plus a P-row
collect.  NTILE is then pure arithmetic on (rn, N), bit-identical to
SQL NTILE semantics, so oracle parity is preserved.

Reference comparison: the assessment's reference pipeline never ranks
globally (02.py builds per-row flags only); this operator exists for
the §2.4 widening keys (deciles, Pareto/ABC curves, RFM, equi-depth
histograms) whose naive window formulation would not survive a 100 TB
entity table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# appended column names (callers select them away)
PID = "__pid"
RN = "__rn"


def _cum(col: str) -> str:
    return f"__cum_{col}"


def global_order_stats(
    df: DataFrame,
    order_by: list[Column | str],
    running: tuple[str, ...] = (),
    npartitions: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Append exact global-order statistics to ``df``.

    ``order_by`` MUST be a total order (include a tie-break key — all
    call sites do, for cross-engine determinism anyway).  Returns
    ``(out, totals)``:

    - ``out`` = ``df`` + ``__rn`` (global 1-based row number in
      ``order_by`` order) + ``__cum_<c>`` (inclusive global running
      sum) for each column name in ``running``;
    - ``totals`` = ``{"rows": N, "<c>": sum}`` as Python ints —
      grand totals fall out of the driver prefix-sum for free, so no
      caller ever plans a ``Window.partitionBy()`` scalar total.

    The ranged frame is persisted (MEMORY_AND_DISK) because the
    histogram collect and the main query must observe ONE
    materialization: the partition ids baked into the offsets map are
    only meaningful against the exact frame they were computed from.
    The explicit partition count also keeps AQE from re-coalescing
    the range exchange underneath the offsets map.

    ``npartitions=None`` derives the range-partition count from the
    optimizer's input-size estimate (r16 — the
    bytes-derived rule the streaming state shards already use): one
    partition per ~64 MB of estimated input, floored at the cluster's
    default parallelism and capped at 20 000.  Rank/running-sum
    results are partition-count-invariant (they depend only on the
    total order — pinned by the operator tests), so this is purely a
    task-count/fan-out knob: a few-MB local input stops paying for 64
    sub-second range partitions + a 64-row histogram, and a 100 TB
    input grows past any session constant.  When the estimate is
    unavailable (plan without stats) the session shuffle-partition
    default is kept.
    """
    spark = df.sparkSession
    if npartitions is None:
        size = None
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # noqa: BLE001 — stats are an estimate, never load-bearing
            size = None
        if size is None or size <= 0 or size >= (1 << 60):
            npartitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        else:
            dp = spark.sparkContext.defaultParallelism
            npartitions = int(max(dp, min(20_000, size // (64 << 20) + dp)))
    rdf = df.repartitionByRange(npartitions, *order_by).withColumn(
        PID, F.spark_partition_id()
    )
    rdf = rdf.persist(StorageLevel.MEMORY_AND_DISK)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(c).alias(f"__s_{c}") for c in running
    ]
    hist = sorted(rdf.groupBy(PID).agg(*aggs).collect(), key=lambda r: r[PID])
    offsets, racc, sacc = [], 0, {c: 0 for c in running}
    for r in hist:
        offsets.append((r[PID], racc, *[sacc[c] for c in running]))
        racc += r["__n"]
        for c in running:
            sacc[c] += int(r[f"__s_{c}"] or 0)
    schema = ", ".join(
        [f"{PID} int", "__rn_off long"] + [f"__off_{c} long" for c in running]
    )
    off_df = spark.createDataFrame(offsets or [], schema)
    w = Window.partitionBy(PID).orderBy(*order_by)
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    out = rdf.withColumn(RN, F.row_number().over(w))
    for c in running:
        out = out.withColumn(_cum(c), F.sum(c).over(wrun))
    out = out.join(F.broadcast(off_df), PID).withColumn(
        RN, (F.col("__rn_off") + F.col(RN)).cast("long")
    )
    for c in running:
        out = out.withColumn(
            _cum(c), (F.col(f"__off_{c}") + F.col(_cum(c))).cast("long")
        )
    out = out.drop("__rn_off", *[f"__off_{c}" for c in running])
    totals = {"rows": racc, **{c: sacc[c] for c in running}}
    return out, totals


def ntile_from_rank(n: int, n_rows: int, rn_col: str = RN) -> Column:
    """Exact SQL ``NTILE(n)`` from a global row number: with
    ``N = n_rows``, the first ``N mod n`` buckets hold ``N div n + 1``
    rows, the rest ``N div n`` — identical to every engine's NTILE,
    as pure integer arithmetic (``div``, no doubles, exact past
    2^53 rows)."""
    size, rem = divmod(n_rows, n)
    if size == 0:
        # fewer rows than buckets: NTILE gives bucket i to row i
        return F.col(rn_col)
    big = rem * (size + 1)
    return F.when(
        F.col(rn_col) <= big,
        F.expr(f"({rn_col} - 1) div {size + 1} + 1"),
    ).otherwise(F.expr(f"({rn_col} - 1 - {big}) div {size} + {rem} + 1"))
