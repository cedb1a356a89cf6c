"""Round-9 additions: robust / seasonal statistics and deeper graph
analytics over the corpus tables.

Design rules are the registry-wide ones (plans/metrics.py module
docstring): BIGINT/STRING/BOOL graded outputs only, truncating
integer division written ``div`` in Spark and emulated with the
sign-handled CASE idiom in the DuckDB oracles, rank statistics
computed as value-bucketed prefix sums (domain-sized, never a raw-row
sort), scalar statistics broadcast back as single-row joins
(sanctioned BNLJ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import ensure_deterministic_session, scoped_conf
from ..sources.layout import events_tag, scratch_path
from ..sources.tables import load_table
from .insights import _cents, _epoch_s
from .registry import query

# DuckDB-side truncating division (Spark's `div` truncates toward
# zero; DuckDB's `//` floors) — interpolated into oracle strings.
_TRUNC_DIV = "(CASE WHEN ({a}) >= 0 THEN ({a}) // ({b}) ELSE -((-({a})) // ({b})) END)"


def _lower_median(df: DataFrame, col: str) -> DataFrame:
    """Smallest value whose cumulative count reaches half — exact,
    division-free, identical in both engines.  The ordered pass runs
    over DISTINCT values of ``col`` (value-bucketed), not raw rows."""
    b = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        col,
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("tot"),
    )
    return c.agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col(col))).alias("m")
    )


_MEDIAN_SQL = """
    {name} AS (
      SELECT MIN(CASE WHEN cum * 2 >= tot THEN v END) AS m FROM (
        SELECT v, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER () AS tot
        FROM (SELECT {col} AS v, COUNT(*) AS cnt FROM {src} GROUP BY 1)
      )
    )"""


@query(
    "events_seasonal_residual_anomaly",
    oracle=f"""
    WITH e AS (
      SELECT (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 AS h,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), hm AS (
      SELECT h, {_TRUNC_DIV.format(a="SUM(cents)", b="COUNT(*)")} AS mean_c
      FROM e GROUP BY h
    ), r AS (
      SELECT e.h, e.cents - hm.mean_c AS res FROM e JOIN hm ON e.h = hm.h
    ),{_MEDIAN_SQL.format(name="med", col="res", src="r")},
    ad AS (
      SELECT r.h, ABS(r.res - med.m) AS ad FROM r, med
    ),{_MEDIAN_SQL.format(name="mad", col="ad", src="ad")}
    SELECT CAST(ad.h AS BIGINT) AS hour_utc,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN ad.ad > 3 * mad.m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           CAST(SUM(CASE WHEN ad.ad > 3 * mad.m THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS anomaly_ppm
    FROM ad, mad
    GROUP BY ad.h
    ORDER BY hour_utc
    """,
)
def events_seasonal_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted robust anomaly rate per hour-of-day:
    subtract each hour-of-day's mean value (the [[event_hour_seasonality]]
    load curve) from every event, then flag events whose residual sits
    more than 3 MAD from the residual median — the composition of the
    seasonal profile with the [[events_anomaly_mad]] robust rule, i.e.
    "unusual GIVEN the time of day", which is what a pager should key
    on (a 3 am spike is anomalous at 3 am volumes, not day-peak ones).

    Scale: the hourly means are a 24-row aggregate joined back
    broadcast-style; median and MAD run as value-bucketed prefix sums
    over DISTINCT residual cent values — bounded by the value domain,
    never sorted per row; the two scalar statistics broadcast back as
    single-row joins (sanctioned BNLJ)."""
    ensure_deterministic_session(spark)
    e = (
        load_table(spark, sf_dir, "events")
        .select(_epoch_s("ts").alias("t"), _cents("value").alias("cents"))
        .select(F.expr("(t div 3600) % 24").alias("h"), "cents")
    )
    hm = e.groupBy("h").agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("mean_c")
    )
    r = e.join(F.broadcast(hm), "h").select(
        "h", (F.col("cents") - F.col("mean_c")).alias("res")
    )
    med = _lower_median(r.select("res"), "res").select(F.col("m").alias("med"))
    ad = r.crossJoin(F.broadcast(med)).select(
        "h", F.abs(F.col("res") - F.col("med")).alias("ad")
    )
    mad = _lower_median(ad.select("ad"), "ad").select(F.col("m").alias("mad"))
    hit = F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
    return (
        ad.crossJoin(F.broadcast(mad))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(hit).alias("na"),
        )
        .select(
            F.col("h").cast("long").alias("hour_utc"),
            F.col("n").cast("long").alias("n_events"),
            F.col("na").cast("long").alias("n_anomalies"),
            F.expr("na * 1000000 div n").cast("long").alias("anomaly_ppm"),
        )
        .orderBy("hour_utc")
    )


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY d
    ), tr AS (
      SELECT d, c,
             SUM(c) OVER w AS wsum,
             COUNT(*) OVER w AS wn
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), ratio AS (
      SELECT d % 7 AS dw,
             {_TRUNC_DIV.format(a="c * 1000000", b=_TRUNC_DIV.format(a="wsum", b="wn"))} AS r_ppm
      FROM tr
      WHERE {_TRUNC_DIV.format(a="wsum", b="wn")} > 0
    )
    SELECT CAST(dw AS BIGINT) AS dow_idx,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST({_TRUNC_DIV.format(a="SUM(r_ppm)", b="COUNT(*)")} AS BIGINT)
             AS seasonal_ppm
    FROM ratio GROUP BY dw ORDER BY dow_idx
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical ratio-to-moving-average seasonal decomposition of the
    daily revenue series: trend = centered 7-day moving average,
    seasonal index per day-of-week = mean of value/trend in ppm — the
    decomposition capacity planning runs before separating "weekends
    are slow" from "the business is shrinking".  ``dow_idx`` is the
    engine-neutral epoch-day mod 7 (0 = Thursday), sidestepping the
    Spark/DuckDB ``dayofweek`` convention mismatch.

    Scale: the series is calendar-domain sized (one row per day) the
    moment the first aggregate runs, so the moving-average window and
    everything after it is O(days), not O(events); the single ordered
    window over days is the same bounded-domain pass the rank
    statistics use."""
    ensure_deterministic_session(spark)
    daily = (
        load_table(spark, sf_dir, "events")
        .select(_epoch_s("ts").alias("t"), _cents("value").alias("cents"))
        .select(F.expr("t div 86400").alias("d"), "cents")
        .groupBy("d")
        .agg(F.sum("cents").alias("c"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "c",
        F.sum("c").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    ratio = tr.filter(F.expr("wsum div wn") > 0).select(
        (F.col("d") % 7).alias("dw"),
        F.expr("(c * 1000000) div (wsum div wn)").alias("r_ppm"),
    )
    return (
        ratio.groupBy("dw")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("r_ppm").alias("s"))
        .select(
            F.col("dw").cast("long").alias("dow_idx"),
            F.col("n").cast("long").alias("n_days"),
            F.expr("s div n").cast("long").alias("seasonal_ppm"),
        )
        .orderBy("dow_idx")
    )


@query(
    "discount_theilsen_slope",
    oracle=f"""
    WITH b AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS di,
             {_TRUNC_DIV.format(
                 a="SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))",
                 b="COUNT(*)")} AS qbar
      FROM lineitem GROUP BY 1
    ), pairs AS (
      SELECT {_TRUNC_DIV.format(
                 a="(b2.qbar - b1.qbar) * 1000", b="b2.di - b1.di")} AS slope
      FROM b b1 JOIN b b2 ON b1.di < b2.di
    ),{_MEDIAN_SQL.format(name="med", col="slope", src="pairs")}
    SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_buckets,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_pairs,
           CAST(med.m AS BIGINT) AS theilsen_slope_milli
    FROM med
    """,
)
def discount_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of mean order quantity vs discount
    level: the median of all pairwise slopes between discount buckets,
    in milli-(centi-qty per discount point) — the outlier-proof
    companion to the least-squares [[discount_quantity_slope]] (one
    weird bucket moves OLS, not the pairwise median).

    Scale: the discount domain is ~11 distinct percent values, so the
    pairwise slope set is O(d²) ≈ 55 rows — the all-pairs join runs
    on the AGGREGATED bucket frame, never on lineitem; the corpus-
    sized work is exactly one hash aggregate."""
    ensure_deterministic_session(spark)
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("di"),
            F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("cq"),
        )
        .groupBy("di")
        .agg(F.expr("sum(cq) div count(*)").alias("qbar"))
    )
    b1 = b.select(F.col("di").alias("d1"), F.col("qbar").alias("q1"))
    b2 = b.select(F.col("di").alias("d2"), F.col("qbar").alias("q2"))
    pairs = b1.join(b2, F.col("d1") < F.col("d2")).select(
        F.expr("((q2 - q1) * 1000) div (d2 - d1)").alias("slope")
    )
    med = _lower_median(pairs, "slope")
    nb = b.agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    np_ = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return (
        nb.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(med))
        .select(
            "n_buckets",
            "n_pairs",
            F.col("m").cast("long").alias("theilsen_slope_milli"),
        )
    )


@query(
    "events_props_facet_topk",
    oracle="""
    WITH e AS (
      SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) // 10
               AS k_decile,
             event_type
      FROM events
    ), per AS (
      SELECT k_decile, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2
    ), ranked AS (
      SELECT k_decile, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY k_decile
                                ORDER BY n DESC, event_type) AS rnk,
             SUM(n) OVER (PARTITION BY k_decile) AS tot
      FROM per
    )
    SELECT CAST(k_decile AS BIGINT) AS k_decile,
           event_type,
           CAST(n AS BIGINT) AS n_events,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(n * 1000000 // tot AS BIGINT) AS share_ppm
    FROM ranked WHERE rnk <= 2
    ORDER BY k_decile, rnk
    """,
)
def events_props_facet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per property-value decile, faceted out of the
    semi-structured ``props`` JSON column — the product-analytics
    "which actions dominate each property band" drill-down, with the
    JSON access pushed into one regexp extraction per row (the
    [[json_extract]] family's scan-speed path; no UDF, no reparse).

    Scale: one hash aggregate to (decile, type) — a bounded facet
    grid — then ranking windows over that grid, never over raw
    events; deterministic tiebreak (count desc, type asc) so the
    top-2 is engine-stable."""
    ensure_deterministic_session(spark)
    e = load_table(spark, sf_dir, "events").select(
        F.expr(
            """cast(regexp_extract(props, '"k": (\\\\d+)', 1) as bigint)
               div 10"""
        ).alias("k_decile"),
        "event_type",
    )
    per = e.groupBy("k_decile", "event_type").agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("k_decile").orderBy(F.desc("n"), F.asc("event_type"))
    wt = Window.partitionBy("k_decile")
    return (
        per.select(
            "k_decile",
            "event_type",
            "n",
            F.row_number().over(wr).alias("rnk"),
            F.sum("n").over(wt).alias("tot"),
        )
        .filter(F.col("rnk") <= 2)
        .select(
            F.col("k_decile").cast("long").alias("k_decile"),
            "event_type",
            F.col("n").cast("long").alias("n_events"),
            F.col("rnk").cast("long").alias("rnk"),
            F.expr("n * 1000000 div tot").cast("long").alias("share_ppm"),
        )
        .orderBy("k_decile", "rnk")
    )


@query("graph_kcore")  # iterative peeling — rows-only; exact pytest twin
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph: the maximal subgraph in
    which every part co-occurs with ≥3 other core parts — the dense
    backbone community detection and spam filtering start from, and
    (with [[graph_cc_alternating]] / [[graph_pagerank_converged]]) the
    third iterative-loop-discipline operator.  No SQL oracle: k-core
    peeling is a shrinking fixpoint that a recursive CTE (monotone,
    growing) cannot express — correctness is pinned by an exact
    driver-side peeling twin in pytest instead.

    Engine: repeatedly drop nodes of remaining-degree < k and the
    edges touching them, until a round removes nothing.  Each round
    is one edge-sized degree aggregate + one semi-join; lineage is
    truncated per round with localCheckpoint and the convergence
    check is ONE scalar (remaining-edge count) per round.  Round
    count is bounded by the peeling depth (≤ max degree), in practice
    a handful; every frame stays edge- or node-sized."""
    ensure_deterministic_session(spark)
    k = 3
    # Edge build via per-order sorted part sets (r15, the
    # market_basket explode pattern shared with
    # [[graph_triangle_count]]): one map-side-combined shuffle + a
    # narrow ordered-pair explode instead of distinct + self-join +
    # distinct — identical u<v pair set, two fewer |E| exchanges.
    # LAZY checkpoints throughout (r15, guide §1.2): each count() is
    # the frame's first action and materializes the checkpoint in the
    # same job it scans — one job per round (and one for the initial
    # edge build) instead of materialize-then-scan, the alternating
    # CC loop's r10 A/B fold.  Both frames are post-shuffle (distinct
    # / semi-joins), so the blocks are the reliable kind.
    edges = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
                )
            ).alias("pr")
        )
        .select("pr.u", "pr.v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    while True:
        deg = (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # Filter by ANTI-join against the DROPPED nodes rather than
        # semi-join against the kept ones (r16, guide §3.1): every
        # endpoint appears in deg, so ``NOT IN drop`` ≡ ``IN keep``
        # row-for-row, but drop (d < k) is a small shrinking set —
        # empty-to-tiny after round 1 — which AQE broadcast-joins,
        # leaving the |E| edge frame UNSHUFFLED each round (the keep
        # set is node-sized, which forced two |E| exchanges per
        # round).  A/B best-of-3 at sf0.1: 5.02 → 3.94 s, identical
        # core (pytest twin unchanged).
        drop = deg.filter(F.col("d") < k).select("n")
        nxt = (
            edges.join(drop.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(drop.withColumnRenamed("n", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        m = nxt.count()  # one scalar action per round
        if m == n_edges:
            break
        edges, n_edges = nxt, m
    core_nodes = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .distinct()
    )
    return (
        core_nodes.agg(F.count(F.lit(1)).cast("long").alias("n_core_nodes"))
        .crossJoin(
            F.broadcast(
                edges.agg(F.count(F.lit(1)).cast("long").alias("n_core_edges"))
            )
        )
        .select(F.lit(k).cast("long").alias("k"), "n_core_nodes", "n_core_edges")
    )


@query(
    "stream_left_outer_join",
    oracle="""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT view_id, v.user_id AS user_id,
           CAST(FLOOR(epoch(v_ts)) AS BIGINT) AS view_ts_s,
           purchase_id,
           CAST(FLOOR(epoch(p_ts)) AS BIGINT) AS purchase_ts_s
    FROM v LEFT JOIN p
      ON p.user_id = v.user_id
     AND p_ts >= v_ts
     AND p_ts <= v_ts + INTERVAL '30 minutes'
    """,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join, graded end-to-end:
    every view matched to the same user's purchases in the following
    30 minutes, unmatched views emitted with NULL purchase columns
    (streaming/windows.py:view_purchase_left_join) — the streaming
    surface [[stream_join_attribution]] (inner) does not cover, and
    the one where watermarks are LOAD-BEARING: a NULL-extended row may
    only emit once the watermark proves no match can still arrive.

    The staged input carries TWO far-future sentinel rows — one
    purchase (user −2) and one view (user −1), distinct users so they
    can match nothing including each other — because the GLOBAL
    watermark is the MIN across both sides' watermark operators: a
    purchase-only sentinel leaves the view side's watermark at
    real-max − 2 h and every view in the corpus's final 2.5 h sits in
    state forever (measured: 8 rows short at sf0.01).  With both
    sentinels the final watermark passes every real view's match
    window and ALL outer rows flush; the sentinel view itself never
    flushes (its own window never closes) and the sentinel purchase
    is never emitted by a left join, so the output equals the plain
    batch LEFT JOIN oracle exactly.  Run under Trigger.AvailableNow.

    Scale: both sides shuffle on user_id; view state is evicted as
    the purchase watermark passes each view's window, so state is
    time-bounded, never stream-length-bounded."""
    ensure_deterministic_session(spark)
    import os

    from ..streaming.windows import read_event_stream, view_purchase_left_join

    from ..sources.layout import versioned_scratch_tag

    # Tag = fixture fingerprint (size+mtime) + staging-code digest, so
    # a change to the staging logic itself (e.g. the sentinel scheme)
    # can never silently replay a stale staged parquet.
    tag = f"{events_tag(sf_dir)}{versioned_scratch_tag('', stream_left_outer_join)}"
    path = scratch_path("stream_loj", tag)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events")

        def sentinel(eid: int, uid: int, etype: str) -> DataFrame:
            return ev.agg(
                F.lit(eid).cast("long").alias("event_id"),
                (F.max("ts") + F.expr("INTERVAL 5 HOURS")).alias("ts"),
                F.lit(uid).cast("long").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )

        ev.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).unionAll(sentinel(-1, -1, "view")).unionAll(
            sentinel(-2, -2, "purchase")
        ).coalesce(1).write.mode("overwrite").parquet(path)
    name = f"stream_loj_{tag}"
    # Size the stateful shuffle to the staged volume: a stream-stream
    # join provisions and commits FOUR state stores per shuffle
    # partition per micro-batch (two sides × key-with/without-index),
    # so partition count is state-store fan-out, not just parallelism.
    # 32 partitions on a few-MB replay is pure provisioning overhead
    # (measured 5.5 s → 2.2 s at sf0.1 going 32 → 8); the same
    # bytes-derived rule grows the count back for real volumes — the
    # streaming twin of the green-taxi maxPartitionBytes scoping.
    from ..streaming.windows import staged_stream_partitions

    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": staged_stream_partitions(path)}
    ):
        q = (
            view_purchase_left_join(read_event_stream(spark, path))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "view_id", "user_id", "view_ts_s", "purchase_id", "purchase_ts_s"
    )


@query(
    "events_value_halflife",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), fr AS (
      SELECT MAX(t) AS mx FROM e
    ), w AS (
      SELECT event_type, cents,
             LEAST((fr.mx - t) // 604800, 20) AS wk
      FROM e, fr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS raw_cents,
           CAST(SUM({_TRUNC_DIV.format(a="cents", b="(1 << wk)")}) AS BIGINT)
             AS decayed_cents
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def events_value_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed value per event type: each event's cents are
    halved for every week of age relative to the corpus frontier
    (capped at 20 half-lives — beyond that the integer weight is 0
    anyway), the recency weighting LTV and engagement scores use, in
    EXACT integer arithmetic: the weight is a power-of-two divisor
    (`div (1 << wk)`), so no float decay factor whose rounding could
    drift between engines.

    Scale: frontier is one max() broadcast back as a single row
    (sanctioned BNLJ); the decay is a per-row expression folded into
    one map-side-combined aggregate — one shuffle of ≤|event types|
    rows."""
    ensure_deterministic_session(spark)
    e = load_table(spark, sf_dir, "events").select(
        "event_type", _epoch_s("ts").alias("t"), _cents("value").alias("cents")
    )
    fr = e.agg(F.max("t").alias("mx"))
    return (
        e.crossJoin(F.broadcast(fr))
        .select(
            "event_type",
            "cents",
            F.least(F.expr("(mx - t) div 604800"), F.lit(20)).alias("wk"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("raw_cents"),
            F.sum(F.expr("cents div shiftleft(1L, cast(wk as int))"))
            .cast("long")
            .alias("decayed_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_abc_class",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS pk,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT pk, cents,
             SUM(cents) OVER (ORDER BY cents DESC, pk
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cents) OVER () AS tot
      FROM rev
    ), classed AS (
      SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                  WHEN cum * 100 <= tot * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS class_cents,
           CAST(SUM(cents) * 1000000
                // (SELECT SUM(cents) FROM rev) AS BIGINT) AS share_ppm
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def orders_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: class A =
    parts inside the first 80% of cumulative revenue (descending),
    B = the next 15%, C = the tail — the Pareto bucketing that
    procurement/warehouse slotting runs, here with an EXACT integer
    boundary rule (cum·100 ≤ tot·80/95 — the first part straddling a
    boundary falls to the next class, identically in both engines)
    and a deterministic (revenue desc, partkey) tiebreak.  Completes
    the Pareto family: [[customer_pareto_coverage]] reports coverage
    at fixed ranks, this classifies EVERY item at fixed shares.

    Scale: revenue is one lineitem hash aggregate; the ordered
    cumulative pass over the PART domain runs via the
    range-partitioned global-rank operator (operators/rankstats.py,
    round 15 — parallel ranked partitions + broadcast prefix-sum
    offsets; |parts| is entity-proportional, so even the "~200k at
    sf100" domain must not funnel into one window task), and the
    grand total falls out of the driver prefix-sum for free."""
    ensure_deterministic_session(spark)
    from ..operators.rankstats import global_order_stats

    rev = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("pk"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("c"),
        )
        .groupBy("pk")
        .agg(F.sum("c").alias("cents"))
    )
    cummed, totals = global_order_stats(
        rev, [F.desc("cents"), F.asc("pk")], running=("cents",)
    )
    ranked = cummed.select(
        "cents",
        F.col("__cum_cents").alias("cum"),
        F.lit(totals["cents"]).cast("long").alias("tot"),
    )
    classed = ranked.select(
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "tot",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("class_cents"),
            # DECIMAL(38,0) headroom for the ppm numerator: class cents
            # reach ~2e13 at a mere 10x of bench scale and * 1e6 blows
            # BIGINT (found by the sf1 scaling notch — DuckDB hides the
            # same hazard by auto-widening SUM to HUGEINT)
            F.expr(
                "cast((cast(sum(cents) as decimal(38,0)) * 1000000)"
                " div first(tot) as bigint)"
            ).alias("share_ppm"),
        )
        .orderBy("abc_class")
    )
