"""Round-8 pipeline-insight operators — the questions an operations
team asks OF the engine while it runs: where do sessions start and
what are they worth (first-touch attribution, bounce rate,
seasonality), how much duplication does each source contribute
(per-source dedup dashboard, cluster-size spectrum), what will a join
cost before running it (the AQE planning statistics: cardinality
estimate, key-skew top-N), macro health series (monthly momentum,
Pareto revenue coverage, discount elasticity, ship-lag bands,
supplier co-supply connectivity, priority mix shift, inter-order gap
percentiles, DAU/WAU stickiness, returns by brand, per-user modal
behavior), embedding-space drift, and the IVF-PQ / streaming
completions of the ANN and attribution ladders.

Output contract (README round-3, plans/metrics.py module docstring):
graded columns are BIGINT / STRING fixed-point; money is exact cents
via ``FLOOR(x * 100 + 0.5)`` (one IEEE multiply-add on identical
operands — bit-identical in any engine); ratios are integer
milli/ppm; signed ratios truncate the ABSOLUTE value toward zero and
re-apply the sign explicitly (negative integer division is not
engine-portable).

Scale stance: sessionization is windowed BY USER (per-key frames,
never a global sort); dedup dashboards hash-group on the text digest
(one shuffle, map-side combined); the join statistics aggregate
per-key histograms — the estimate costs two groupBys and a key-sized
join instead of materializing the join itself; unpartitioned windows
appear only over value-domain or calendar-domain frames (distinct
dollar totals, months, 24 hours) that do not grow with row count.
The only iterative operator (connected components) loops over a
supplier-count-sized label frame with localCheckpoint lineage
truncation, never over lineitem rows.

The reference (01.py/02.py) has no analytics surface — this module
is part of the SURVEY.md §2.4 training-data/ops extension tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import ensure_deterministic_session, scoped_conf
from ..sources.layout import events_tag, scratch_path
from ..sources.tables import load_table
from .registry import query


def _epoch_s(c) -> F.Column:
    """Timestamp → epoch seconds BIGINT (floor) — the portable
    contract shared with plans/metrics.py:39 (session pinned UTC;
    DuckDB twin is CAST(FLOOR(epoch(ts)) AS BIGINT))."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col.cast("timestamp").cast("double")).cast("long")


def _cents(c) -> F.Column:
    """Double money → exact integer cents, identical in both engines:
    FLOOR(x * 100 + 0.5) is a single IEEE multiply-add on the same
    operands (round-half-up; engines disagree on bankers' rounding,
    never on this)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# SQL fragment shared by the two sessionized keys: events → (user_id,
# session id, entry event_type, per-event cents).  30-minute
# inactivity gap; entry = first event by (t, event_id) — event_id
# makes the ordering total.
_SESSION_CTE = """
    e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), g AS (
      SELECT *,
             CASE WHEN LAG(t) OVER w IS NULL
                    OR t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ), s AS (
      SELECT *,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), f AS (
      SELECT *,
             FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sid
               ORDER BY t, event_id) AS entry_type
      FROM s
    ), per_session AS (
      SELECT user_id, sid, entry_type,
             SUM(cents) AS scents, COUNT(*) AS nev
      FROM f GROUP BY user_id, sid, entry_type
    )
"""


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SESSION_CTE``: one row per session with
    (user_id, sid, entry_type, scents, nev).  All three window
    functions (lag, running sum, last-non-null) share ONE
    (user_id)/(t, event_id) partitioning+ordering, so the plan sorts
    each user partition exactly once.  The entry type rides the same
    frame: the last row at-or-before the current one with new_s = 1
    IS the session opener, so ``last(when(new_s=1, type), ignorenulls)``
    replaces the second (user, sid)-partitioned window the oracle's
    FIRST_VALUE formulation would need (equivalent by construction,
    one sort cheaper)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        _epoch_s("ts").alias("t"),
        _cents("value").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    lag_t = F.lag("t").over(w)
    g = ev.withColumn(
        "new_s",
        F.when(lag_t.isNull() | (F.col("t") - lag_t > 1800), 1).otherwise(0),
    )
    f = g.select(
        "user_id",
        "cents",
        F.sum("new_s").over(run).alias("sid"),
        F.last(
            F.when(F.col("new_s") == 1, F.col("event_type")), ignorenulls=True
        )
        .over(run)
        .alias("entry_type"),
    )
    return f.groupBy("user_id", "sid", "entry_type").agg(
        F.sum("cents").alias("scents"), F.count(F.lit(1)).alias("nev")
    )


@query(
    "event_first_touch_attribution",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(nev) AS BIGINT) AS n_events,
           CAST(SUM(scents) AS BIGINT) AS total_value_cents
    FROM per_session
    GROUP BY entry_type
    ORDER BY entry_type
    """,
)
def event_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: sessionize the event stream per user
    (30-minute inactivity gap), credit each session's FULL value to
    the event type that opened it — the marketing/ops answer to
    "which entry point brings the revenue".  Streaming twin:
    [[stream_session_attribution]].

    Scale: the classic gap-sessionizer is three window passes all
    partitioned by user_id with one (t, event_id) ordering — per-user
    frames, map-side-combinable final rollup, no global sort
    anywhere.  Entry tie-break is total via event_id."""
    ensure_deterministic_session(spark)
    per = _sessionized(spark, sf_dir)
    return (
        per.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("nev").cast("long").alias("n_events"),
            F.sum("scents").cast("long").alias("total_value_cents"),
        )
        .orderBy("entry_type")
    )


@query(
    "session_bounce_rate",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN nev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
           CAST(SUM(CASE WHEN nev = 1 THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS bounce_milli
    FROM per_session
    GROUP BY entry_type
    ORDER BY entry_type
    """,
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type: the share of sessions that
    contain exactly one event — the canonical engagement-quality
    metric next to [[event_first_touch_attribution]] (same
    sessionizer, same windows, so the two dashboards share a cached
    stage when run together).

    Scale: identical shape to the attribution key — per-user window
    frames then a tiny entry-type rollup."""
    ensure_deterministic_session(spark)
    per = _sessionized(spark, sf_dir)
    return (
        per.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("nev") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounce"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounce",
            F.expr("n_bounce * 1000 div n_sessions").cast("long").alias("bounce_milli"),
        )
        .orderBy("entry_type")
    )


@query(
    "event_hour_seasonality",
    oracle="""
    WITH e AS (
      SELECT (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour_utc,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), per AS (
      SELECT hour_utc, COUNT(*) AS n, SUM(cents) AS c
      FROM e GROUP BY hour_utc
    )
    SELECT CAST(hour_utc AS BIGINT) AS hour_utc,
           CAST(n AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS value_cents,
           CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS share_ppm
    FROM per
    ORDER BY hour_utc
    """,
)
def event_hour_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile: event count, value, and
    traffic share (ppm) per UTC hour — the load curve capacity
    planning reads before sizing a streaming job's executor pool.

    Scale: one 24-bucket hash aggregate (map-side combined); the
    share window runs over the 24-row hour domain — calendar-sized,
    never row-sized."""
    ensure_deterministic_session(spark)
    e = (
        load_table(spark, sf_dir, "events")
        .select(_epoch_s("ts").alias("t"), _cents("value").alias("cents"))
        # integer floor-division, matching the oracle's `//` exactly
        # (float-divide + cast truncates toward zero and diverges for
        # pre-1970 timestamps)
        .select(F.expr("(t div 3600) % 24").alias("hour_utc"), "cents")
    )
    per = e.groupBy("hour_utc").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    )
    return (
        per.withColumn("tot", F.sum("n").over(Window.partitionBy()))
        .select(
            F.col("hour_utc").cast("long").alias("hour_utc"),
            F.col("n").cast("long").alias("n_events"),
            F.col("c").cast("long").alias("value_cents"),
            F.expr("n * 1000000 div tot").cast("long").alias("share_ppm"),
        )
        .orderBy("hour_utc")
    )


@query(
    "dedup_rate_by_source",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ), firsts AS (
      SELECT h, MIN(doc_id) AS keep FROM d GROUP BY h
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT d.h) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(CASE WHEN d.doc_id = f.keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_survivors,
           CAST((COUNT(*) - SUM(CASE WHEN d.doc_id = f.keep THEN 1 ELSE 0 END))
                * 1000 // COUNT(*) AS BIGINT) AS dup_rate_milli
    FROM d JOIN firsts f USING (h)
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup dashboard: how many documents each source
    contributes, how many distinct texts it carries, and how many of
    its rows SURVIVE global exact dedup (survivor = lowest doc_id per
    text digest, the [[dedup_exact]] keep rule) — the table a corpus
    owner reads to decide which feed is mostly recycled content.

    Scale: digest once, one hash groupBy for the keep set (key =
    digest, map-side combined), one digest-keyed equi-join back, one
    source-sized rollup.  No text ever compares pairwise; the join is
    on the 128-bit digest, not the document body."""
    ensure_deterministic_session(spark)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text")).alias("h")
    )
    firsts = d.groupBy("h").agg(F.min("doc_id").alias("keep"))
    j = d.join(firsts, "h")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_distinct_texts"),
            F.sum(F.when(F.col("doc_id") == F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_survivors"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            "n_survivors",
            F.expr("(n_docs - n_survivors) * 1000 div n_docs")
            .cast("long")
            .alias("dup_rate_milli"),
        )
        .orderBy("source")
    )


@query(
    "dup_cluster_size_hist",
    oracle="""
    WITH c AS (
      SELECT md5(text) AS h, COUNT(*) AS sz FROM documents GROUP BY h
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM c GROUP BY sz ORDER BY sz
    """,
)
def dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size spectrum: group documents by exact text
    digest, histogram the cluster sizes — the one-glance shape of a
    corpus's duplication (a long size-1 head means clean sources, a
    fat tail means boilerplate mills).  Complements
    [[dedup_rate_by_source]] (who duplicates) with HOW duplication
    clusters.

    Scale: two cascaded hash aggregates, both map-side combined; the
    second groups on cluster size — a domain of at most a few hundred
    distinct values regardless of corpus size."""
    ensure_deterministic_session(spark)
    d = load_table(spark, sf_dir, "documents").select(F.md5("text").alias("h"))
    c = d.groupBy("h").agg(F.count(F.lit(1)).alias("sz"))
    return (
        c.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
        .select(
            F.col("sz").cast("long").alias("cluster_size"), "n_clusters", "n_docs"
        )
        .orderBy("cluster_size")
    )


@query(
    "join_cardinality_estimate",
    oracle="""
    WITH co AS (
      SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY k
    ), cl AS (
      SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY k
    ), m AS (
      SELECT co.c AS c_o, cl.c AS c_l
      FROM co FULL OUTER JOIN cl USING (k)
    )
    SELECT CAST(SUM(CASE WHEN c_o IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_orders,
           CAST(SUM(CASE WHEN c_l IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keys_lineitem,
           CAST(SUM(CASE WHEN c_o IS NOT NULL AND c_l IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_keys,
           CAST(SUM(COALESCE(c_o, 0) * COALESCE(c_l, 0)) AS BIGINT)
             AS join_rows,
           CAST(SUM(CASE WHEN c_o IS NOT NULL AND c_l IS NOT NULL
                    THEN 1 ELSE 0 END) * 1000
                // SUM(CASE WHEN c_o IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS containment_milli
    FROM m
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality from per-key histograms WITHOUT running
    the join: |orders ⋈ lineitem| = Σ_k cnt_o(k)·cnt_l(k) — the exact
    statistic a cost-based planner (and AQE's skew detector) wants
    before picking a join strategy, plus key containment (what share
    of order keys have any lineitem).

    Scale: two map-side-combined groupBys shrink both inputs to their
    KEY cardinality, then one key-sized full outer join and a single
    aggregate — the estimate costs O(distinct keys), the join it
    predicts costs O(join_rows).  That asymmetry is the whole point
    of the statistic."""
    ensure_deterministic_session(spark)
    co = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_o"))
    )
    cl = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_l"))
    )
    m = co.join(cl, "k", "full_outer")
    return m.agg(
        F.sum(F.when(F.col("c_o").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_keys_orders"),
        F.sum(F.when(F.col("c_l").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_keys_lineitem"),
        F.sum(
            F.when(F.col("c_o").isNotNull() & F.col("c_l").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_matched_keys"),
        F.sum(
            F.coalesce(F.col("c_o"), F.lit(0)) * F.coalesce(F.col("c_l"), F.lit(0))
        )
        .cast("long")
        .alias("join_rows"),
    ).select(
        "n_keys_orders",
        "n_keys_lineitem",
        "n_matched_keys",
        "join_rows",
        F.expr("n_matched_keys * 1000 div n_keys_orders")
        .cast("long")
        .alias("containment_milli"),
    )


@query(
    "join_key_skew_topn",
    oracle="""
    WITH co AS (
      SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY k
    ), cl AS (
      SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY k
    ), m AS (
      SELECT co.k AS k, co.c AS c_o, cl.c AS c_l, co.c * cl.c AS contrib
      FROM co JOIN cl USING (k)
    ), tot AS (
      SELECT SUM(contrib) AS t FROM m
    )
    SELECT CAST(m.k AS BIGINT) AS k,
           CAST(m.c_o AS BIGINT) AS c_orders,
           CAST(m.c_l AS BIGINT) AS c_lineitem,
           CAST(m.contrib AS BIGINT) AS join_rows,
           CAST(m.contrib * 1000000 // tot.t AS BIGINT) AS share_ppm
    FROM m, tot
    ORDER BY m.contrib DESC, m.k
    LIMIT 10
    """,
)
def join_key_skew_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 join keys contributing the most output rows to
    orders ⋈ lineitem, with each key's ppm share of the total — the
    skew report that decides between a plain shuffle join, AQE skew
    splitting, and salting ([[join_salted]]).

    Scale: per-key histograms (two map-side groupBys), key-sized
    equi-join, a broadcast single-row total (the sanctioned
    scalar-crossJoin pattern), and a global top-10 — Spark plans
    TakeOrderedAndProject, a per-partition heap + driver merge of 10
    rows, never a full sort."""
    ensure_deterministic_session(spark)
    co = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_o"))
    )
    cl = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c_l"))
    )
    m = co.join(cl, "k").withColumn("contrib", F.col("c_o") * F.col("c_l"))
    tot = m.agg(F.sum("contrib").alias("t"))
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("c_o").cast("long").alias("c_orders"),
            F.col("c_l").cast("long").alias("c_lineitem"),
            F.col("contrib").cast("long").alias("join_rows"),
            F.expr("contrib * 1000000 div t").cast("long").alias("share_ppm"),
        )
        .orderBy(F.col("join_rows").desc(), "k")
        .limit(10)
    )


@query(
    "customer_pareto_coverage",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS r
      FROM orders GROUP BY o_custkey
    ), buck AS (
      SELECT r, COUNT(*) AS cnt FROM rev GROUP BY r
    ), cum AS (
      SELECT r, cnt,
             SUM(r * cnt) OVER (ORDER BY r DESC
               ROWS UNBOUNDED PRECEDING) AS cumrev,
             SUM(r * cnt) OVER () AS total
      FROM buck
    ), need AS (
      SELECT r, cnt, total,
             CASE WHEN cumrev - r * cnt >= (total * 800 + 999) // 1000 THEN 0
                  ELSE LEAST(cnt,
                    ((total * 800 + 999) // 1000 - (cumrev - r * cnt) + r - 1)
                      // r)
             END AS needed
      FROM cum
    )
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_customers,
           CAST(MAX(total) AS BIGINT) AS total_cents,
           CAST(SUM(needed) AS BIGINT) AS covering_customers,
           CAST(SUM(needed * r) AS BIGINT) AS covered_cents,
           CAST(SUM(needed * r) * 1000 // MAX(total) AS BIGINT)
             AS coverage_milli
    FROM need
    """,
)
def customer_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration: the MINIMAL number of customers
    whose combined revenue reaches 80% of the total — the "how 80/20
    is this business" statistic, made exact and deterministic by the
    greedy-by-revenue definition (customers with equal cents are
    interchangeable, so the greedy count is unique).

    Scale (value-bucketed rank statistics, plans/metrics.py module
    device): per-customer revenue is one map-side-combined groupBy;
    the ordered pass then runs over DISTINCT revenue values —
    but continuous-like money values make that frame approach
    |customers| in the worst case, so (round 15) it runs via the
    range-partitioned global-rank operator (operators/rankstats.py),
    never an unpartitioned window — computing for each bucket how
    many of its customers the greedy needs:
    min(cnt, ceil((threshold − cum_before) / r)).  Nothing sorts raw
    orders; the threshold is exact-integer ceil(0.8·total)."""
    ensure_deterministic_session(spark)
    from ..operators.rankstats import global_order_stats

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(_cents("o_totalprice")).alias("r"))
    )
    buck = (
        rev.groupBy("r")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rc", F.col("r") * F.col("cnt"))
    )
    # distinct lifetime-cents values approach |customers| in the worst
    # case (continuous-like money values), so the ordered pass uses
    # the range-partitioned global-rank operator (round 15), not an
    # unpartitioned window over the value frame
    cummed, totals = global_order_stats(buck, [F.desc("r")], running=("rc",))
    cum = cummed.select(
        "r",
        "cnt",
        F.col("__cum_rc").alias("cumrev"),
        F.lit(totals["rc"]).cast("long").alias("total"),
    )
    need = cum.withColumn(
        "needed",
        F.expr(
            """CASE WHEN cumrev - r * cnt >= (total * 800 + 999) div 1000 THEN 0
               ELSE LEAST(cnt,
                 ((total * 800 + 999) div 1000 - (cumrev - r * cnt) + r - 1)
                   div r)
               END"""
        ),
    )
    return need.agg(
        F.sum("cnt").cast("long").alias("n_customers"),
        F.max("total").cast("long").alias("total_cents"),
        F.sum("needed").cast("long").alias("covering_customers"),
        F.sum(F.col("needed") * F.col("r")).cast("long").alias("covered_cents"),
    ).select(
        "n_customers",
        "total_cents",
        "covering_customers",
        "covered_cents",
        F.expr("covered_cents * 1000 div total_cents")
        .cast("long")
        .alias("coverage_milli"),
    )


@query(
    "discount_quantity_slope",
    oracle="""
    WITH d AS (
      SELECT CAST(FLOOR(l_discount * 1000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS y
      FROM lineitem
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM d
    )
    SELECT n, sx, sy, sxx, sxy,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                WHEN n * sxy - sx * sy >= 0
                THEN (n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx)
                ELSE -((sx * sy - n * sxy) * 1000 // (n * sxx - sx * sx))
                END AS BIGINT) AS slope_milli
    FROM s
    """,
)
def discount_quantity_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity of quantity: the exact least-squares slope
    of quantity (whole units) on discount (permille), from the five
    integer moment sums — does a deeper discount actually move more
    units?  slope = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²), emitted as
    numerator/denominator plus signed milli (truncate-abs-toward-zero
    idiom, plans/metrics.py).

    Scale: one full-scan aggregate, five map-side-combined integer
    sums, no shuffle beyond the single-row combine.  Overflow bound:
    |num|·1000 stays in BIGINT through sf0.1 (≈2e18); at larger
    scales rescale x to centi-discount — documented, not silent."""
    ensure_deterministic_session(spark)
    d = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * 1000 + F.lit(0.5)).cast("long").alias("x"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("y"),
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        "n",
        "sx",
        "sy",
        "sxx",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("slope_den"),
        F.expr(
            """CASE WHEN n * sxx - sx * sx = 0 THEN 0
               WHEN n * sxy - sx * sy >= 0
               THEN (n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)
               ELSE -((sx * sy - n * sxy) * 1000 div (n * sxx - sx * sx))
               END"""
        )
        .cast("long")
        .alias("slope_milli"),
    )


@query(
    "ship_lag_bands",
    oracle="""
    WITH j AS (
      SELECT (CAST(FLOOR(epoch(l.l_shipdate)) AS BIGINT)
              - CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT)) // 86400 AS lag_d,
             l.l_returnflag AS rf,
             CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT) AS units
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), b AS (
      SELECT CASE WHEN lag_d <= 7 THEN '00-07'
                  WHEN lag_d <= 30 THEN '08-30'
                  WHEN lag_d <= 90 THEN '31-90'
                  ELSE '90+' END AS band,
             rf, units
      FROM j
    )
    SELECT band, rf AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(units) AS BIGINT) AS total_units
    FROM b GROUP BY band, rf
    ORDER BY band, returnflag
    """,
)
def ship_lag_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag banded into fulfillment SLO tiers (≤1 week,
    ≤1 month, ≤1 quarter, beyond) crossed with return flag — the
    logistics view of whether slow fulfillment correlates with
    returns.

    Scale: one equi-join on the order key (both sides pruned to key +
    two columns at scan, pushdown-visible in the plan) and a
    band×flag rollup — a dozen output groups, map-side combined."""
    ensure_deterministic_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        _epoch_s("l_shipdate").alias("ship_s"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("units"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _epoch_s("o_orderdate").alias("order_s")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.expr("(ship_s - order_s) div 86400").alias("lag_d"),
        F.col("l_returnflag").alias("rf"),
        "units",
    )
    b = j.withColumn(
        "band",
        F.when(F.col("lag_d") <= 7, "00-07")
        .when(F.col("lag_d") <= 30, "08-30")
        .when(F.col("lag_d") <= 90, "31-90")
        .otherwise("90+"),
    )
    return (
        b.groupBy("band", F.col("rf").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("units").cast("long").alias("total_units"),
        )
        .orderBy("band", "returnflag")
    )


@query(
    "orders_monthly_momentum",
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev
      FROM orders GROUP BY month
    ), lagged AS (
      SELECT month, rev, LAG(rev) OVER (ORDER BY month) AS prev
      FROM m
    )
    SELECT month,
           CAST(rev AS BIGINT) AS rev_cents,
           CAST(prev AS BIGINT) AS prev_cents,
           CAST(CASE WHEN rev >= prev
                THEN (rev - prev) * 1000 // prev
                ELSE -((prev - rev) * 1000 // prev) END AS BIGINT)
             AS delta_milli
    FROM lagged
    WHERE prev IS NOT NULL
    ORDER BY month
    """,
)
def orders_monthly_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue momentum: per calendar month, revenue
    in exact cents, the previous month, and the signed milli delta —
    the trend line every revenue dashboard opens with, with the
    signed ratio in the truncate-abs-toward-zero idiom.

    Scale: one month-keyed hash aggregate (map-side combined; month
    count is calendar-bounded), then a LAG over the month domain — an
    unpartitioned window over ~tens of rows, never over orders."""
    ensure_deterministic_session(spark)
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.sum(_cents("o_totalprice")).alias("rev"))
    )
    lagged = m.withColumn("prev", F.lag("rev").over(Window.orderBy("month")))
    return (
        lagged.filter(F.col("prev").isNotNull())
        .select(
            "month",
            F.col("rev").cast("long").alias("rev_cents"),
            F.col("prev").cast("long").alias("prev_cents"),
            F.expr(
                """CASE WHEN rev >= prev
                   THEN (rev - prev) * 1000 div prev
                   ELSE -((prev - rev) * 1000 div prev) END"""
            )
            .cast("long")
            .alias("delta_milli"),
        )
        .orderBy("month")
    )


@query(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT s_suppkey AS n FROM supplier
    ), su AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ), pe AS (
      SELECT DISTINCT a.s AS x, b.s AS y
      FROM su a JOIN su b ON a.o = b.o AND a.s <> b.s
    ), reach(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT pe.y, reach.l FROM reach JOIN pe ON reach.n = pe.x
      WHERE reach.l < pe.y
    ), comp AS (
      SELECT n, MIN(l) AS c FROM reach GROUP BY n
    ), sizes AS (
      SELECT c, COUNT(*) AS sz FROM comp GROUP BY c
    )
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pe WHERE x < y) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MAX(sz) AS BIGINT) AS largest_component,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_components
    FROM sizes
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the supplier co-supply graph (suppliers
    adjacent when they ship lines of the same order) by distributed
    min-label propagation — the clustering primitive under entity
    resolution and [[dedup_clusters]], here summarized as component
    count / largest size / singleton count.

    Engine: labels start as the node id; each round every node takes
    min(own label, neighbors' labels) until a round changes nothing —
    the textbook hash-join form of label propagation.  Each round is
    one |E|-proportional equi-join plus a node-keyed min-aggregate,
    with ``localCheckpoint`` truncating lineage and ONE scalar action
    (the changed-count) per round, exactly the [[graph_pagerank_converged]]
    loop discipline.  Round count is the graph diameter, not a guess.
    The oracle's recursive CTE enumerates decreasing-label paths —
    fine on the DuckDB side's small frame, never what the engine does.

    Scale: edge building fans out per order (bounded by lines/order,
    ≤7 here) then dedups — never an all-pairs over suppliers; the
    label frame is node-sized; the two count scalars join back as
    broadcast single rows (sanctioned BNLJ)."""
    ensure_deterministic_session(spark)
    # Edge build via per-order supplier sets (r15, guide §2.3/§2.4;
    # the market_basket explode pattern, A/B'd −25% with identical
    # output): groupBy(order)+collect_set is ONE map-side-combined
    # shuffle and the ordered-pair explode is narrow.  Sets stay
    # bounded by lines-per-order (≤7), so the explode cannot blow up
    # on a hot order at any scale.  r16 (guide §2.3 — shuffle fewer
    # bytes): the explode emits each undirected edge ONCE (sorted set
    # → x < y slice pairs), so the dedup ingests |E| rows instead of
    # 2|E|, and the symmetric orientation is restored AFTER the
    # distinct by a narrow union with the swap.  A/B best-of-3 at
    # sf0.1: 4.23 → 3.39 s (second session 4.77 → 4.08), identical
    # components.
    half = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> transform("
                    "slice(ss, i + 2, size(ss)), y -> struct(x AS x, y AS y))))"
                )
            ).alias("pr")
        )
        .select("pr.x", "pr.y")
        .distinct()
    )
    edges = (
        half.unionAll(half.select(F.col("y").alias("x"), F.col("x").alias("y")))
        # hash-partition on the per-round join key BEFORE the
        # checkpoint (r16, guide §2.4 — the pagerank discipline):
        # without it every round's edges⋈labels join re-exchanged the
        # full |E| frame by x; checkpointing the x-partitioning makes
        # the loop's edge side exchange-free for all rounds.
        .repartition(F.col("x"))
        # lazy: round 1's changed-count action materializes both edge
        # and label checkpoints in the job that first scans them
        .localCheckpoint(eager=False)
    )
    nodes = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("n")
    )
    lab = nodes.select("n", F.col("n").alias("l")).localCheckpoint(eager=False)
    while True:
        nb = (
            edges.join(lab, edges.x == lab.n)
            .groupBy("y")
            .agg(F.min("l").alias("nl"))
        )
        # LAZY checkpoint: the changed-count below is the round's first
        # action and materializes the checkpoint in the same job it
        # scans — one job per round instead of materialize-then-scan
        # (the alternating loop's r10 A/B fold, applied here r15; the
        # frame is post-shuffle so the blocks are the reliable kind)
        nxt = (
            lab.join(nb, lab.n == nb.y, "left")
            .select(
                "n",
                "l",
                F.least(F.col("l"), F.coalesce(F.col("nl"), F.col("l"))).alias("l2"),
            )
            .localCheckpoint(eager=False)
        )
        changed = nxt.filter(F.col("l2") < F.col("l")).count()  # one scalar/round
        lab = nxt.select("n", F.col("l2").alias("l"))
        if changed == 0:
            break
    sizes = lab.groupBy("l").agg(F.count(F.lit(1)).alias("sz"))
    summary = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.max("sz").cast("long").alias("largest_component"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
        .cast("long")
        .alias("singleton_components"),
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = (
        edges.filter(F.col("x") < F.col("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    return (
        summary.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_components",
            "largest_component",
            "singleton_components",
        )
    )


@query(
    "graph_cc_alternating",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT s_suppkey AS n FROM supplier
    ), su AS (
      SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
    ), pe AS (
      SELECT DISTINCT a.s AS x, b.s AS y
      FROM su a JOIN su b ON a.o = b.o AND a.s <> b.s
    ), reach(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT pe.y, reach.l FROM reach JOIN pe ON reach.n = pe.x
      WHERE reach.l < pe.y
    ), comp AS (
      SELECT n, MIN(l) AS c FROM reach GROUP BY n
    ), sizes AS (
      SELECT c, COUNT(*) AS sz FROM comp GROUP BY c
    )
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pe WHERE x < y) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MAX(sz) AS BIGINT) AS largest_component,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_components
    FROM sizes
    """,
)
def graph_cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the supplier co-supply graph by the
    alternating large-star/small-star algorithm (Kiveris et al.,
    SoCC'14; operators/graph.py:connected_components_alternating) —
    the logarithmic-round variant of [[graph_connected_components]].
    Same contract and oracle as the propagation key; a pytest asserts
    the two engines produce identical label sets.

    Scale: min-label propagation converges in O(graph diameter)
    rounds — fine on this near-clique graph, ruinous on a 100×
    chain-shaped one (~80 scalar actions).  Star-contraction halves
    component radius every pass, so rounds grow as O(log n) no matter
    the shape; each round is two |E|-sized min-aggregate+join passes
    with per-round localCheckpoint lineage truncation and ONE scalar
    fingerprint action."""
    ensure_deterministic_session(spark)
    from ..operators.graph import connected_components_alternating

    # Per-order collect_set edge build, ONE-SIDED (r16, guide §2.3 —
    # shuffle fewer bytes): the sorted-set ordered-pair explode emits
    # each undirected edge ONCE (x < y), so the dedup exchange ingests
    # |E| rows instead of the 2|E| the both-orientations explode paid,
    # and the explode itself emits half the rows; the symmetric set
    # the operator needs is restored AFTER the distinct by a narrow
    # union of the checkpointed half with its swap.  A/B best-of-3 at
    # sf0.1 (full key): 6.10 → 4.88 s (second session 7.39 → 5.99),
    # identical rounds and components.  Lazy checkpoint — the
    # operator's first fingerprint action materializes it in the job
    # that scans it.
    half = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> transform("
                    "slice(ss, i + 2, size(ss)), y -> struct(x AS x, y AS y))))"
                )
            ).alias("pr")
        )
        .select("pr.x", "pr.y")
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = half.unionAll(half.select(F.col("y").alias("x"), F.col("x").alias("y")))
    nodes = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("n")
    )
    # edges is distinct + checkpointed above — skip the operator's
    # redundant |E| re-distinct/re-checkpoint (r15, guide §2.4); the
    # union restores BOTH orientations, so round 1 also skips the
    # operator's symmetrizing union (r16 — halves round 1's
    # large-star volume)
    lab, _rounds = connected_components_alternating(
        edges, src="x", dst="y", edges_distinct=True, edges_symmetric=True
    )
    # isolates: suppliers with no co-supply edge are their own component
    full = nodes.join(lab, nodes.n == lab.node, "left").select(
        "n", F.coalesce("component", "n").alias("l")
    )
    sizes = full.groupBy("l").agg(F.count(F.lit(1)).alias("sz"))
    summary = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.max("sz").cast("long").alias("largest_component"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
        .cast("long")
        .alias("singleton_components"),
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    # the one-sided half IS the x<y pair set — count it directly
    n_edges = half.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        summary.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_components",
            "largest_component",
            "singleton_components",
        )
    )


@query(
    "embed_slice_drift",
    oracle="""
    WITH q AS (
      SELECT vec_id // 16 AS slice,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
               AS BIGINT) AS qv
      FROM embeddings
    ), cent AS (
      SELECT slice, dim,
             CASE WHEN SUM(qv) >= 0 THEN SUM(qv) // COUNT(*)
                  ELSE -((-SUM(qv)) // COUNT(*)) END AS c
      FROM q GROUP BY slice, dim
    ), pair AS (
      SELECT a.slice AS slice_a, b.slice AS slice_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
             CAST(SUM(a.c * a.c) AS BIGINT) AS na,
             CAST(SUM(b.c * b.c) AS BIGINT) AS nb
      FROM cent a JOIN cent b
        ON a.slice + 1 = b.slice AND a.dim = b.dim
      GROUP BY a.slice, b.slice
    )
    SELECT CAST(slice_a AS BIGINT) AS slice_a,
           CAST(slice_b AS BIGINT) AS slice_b,
           dot, na, nb,
           CAST(CASE WHEN na = 0 OR nb = 0 THEN 0
                WHEN dot >= 0 THEN dot * dot * 1000 // (na * nb)
                ELSE -(dot * dot * 1000 // (na * nb)) END AS BIGINT)
             AS cos_sq_milli
    FROM pair
    ORDER BY slice_a
    """,
)
def embed_slice_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between adjacent corpus slices: quantize
    embeddings to exact milli integers, average per slice and
    dimension (integer centroid, truncate-abs idiom), then score each
    adjacent slice pair by signed squared cosine of the centroids —
    cos² in milli with the dot's sign, the log/sqrt-free similarity
    the repo's bit-portability rules require.  The drift-over-slices
    twin of [[token_drift_slices]] (vocabulary drift) for the vector
    column; cos_sq_milli near 1000 = stable embedding distribution,
    a dip marks the slice where the feed changed.

    Overflow bound: |centroid| ≤ 1000·max|e| ≈ 580, so dot ≤ 64·580²
    ≈ 2e7 and dot²·1000 ≈ 5e17 — inside BIGINT with 10× headroom.

    Scale: one slice×dim hash aggregate (map-side combined), then an
    equi-join of the centroid frame to itself on (slice+1, dim) —
    the frame is slice-count × 64 rows, domain-sized when slices are
    calendar buckets (here vec_id//16 stands in for ingest time)."""
    ensure_deterministic_session(spark)
    q = load_table(spark, sf_dir, "embeddings").select(
        F.expr("vec_id div 16").alias("slice"),
        F.posexplode("embedding").alias("dim0", "e"),
    )
    cent = (
        q.select(
            "slice",
            (F.col("dim0") + 1).alias("dim"),
            F.floor(F.col("e").cast("double") * 1000 + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
        .groupBy("slice", "dim")
        .agg(
            F.expr(
                """CASE WHEN SUM(qv) >= 0 THEN SUM(qv) div COUNT(*)
                   ELSE -((-SUM(qv)) div COUNT(*)) END"""
            ).alias("c")
        )
    )
    b = cent.select(
        F.col("slice").alias("slice_b"),
        F.col("dim").alias("dim_b"),
        F.col("c").alias("cb"),
    )
    pair = (
        cent.join(
            b,
            (F.col("slice") + 1 == F.col("slice_b")) & (F.col("dim") == F.col("dim_b")),
        )
        .groupBy(F.col("slice").alias("slice_a"), "slice_b")
        .agg(
            F.sum(F.col("c") * F.col("cb")).cast("long").alias("dot"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("na"),
            F.sum(F.col("cb") * F.col("cb")).cast("long").alias("nb"),
        )
    )
    return pair.select(
        F.col("slice_a").cast("long").alias("slice_a"),
        F.col("slice_b").cast("long").alias("slice_b"),
        "dot",
        "na",
        "nb",
        F.expr(
            """CASE WHEN na = 0 OR nb = 0 THEN 0
               WHEN dot >= 0 THEN dot * dot * 1000 div (na * nb)
               ELSE -(dot * dot * 1000 div (na * nb)) END"""
        )
        .cast("long")
        .alias("cos_sq_milli"),
    ).orderBy("slice_a")


@query("embed_ann_ivfpq")  # coarse-prune + code-scan ANN — rows-only
def embed_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate nearest neighbors (operators/pq.py:
    ivfpq_ann_topk): the coarse k-means quantizer prunes the corpus
    to the probed cells, the ADC scan scores only those candidates
    from their PQ codes, and the short list is rescored exactly —
    FAISS's workhorse index expressed as DataFrame ops.  Completes
    the ANN ladder after [[embed_ann_lsh]], [[embed_ann_ivf]], and
    [[embed_ann_pq]].  No SQL oracle — quantizer training is not
    SQL-expressible — so the driver records rows-only; pytest asserts
    recall against brute force and the exact-rescore property."""
    ensure_deterministic_session(spark)
    from ..operators.pq import ivfpq_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_ann_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=3,
        n_clusters=16,
        nprobe=6,
        m=16,
        ksub=32,
        n_iter=3,
        refine=16,
    )


@query("stream_session_attribution")  # streaming twin — rows-only
def stream_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-touch attribution: the
    [[event_first_touch_attribution]] dashboard as a live query —
    native ``session_window`` sessions (30-minute gap) with a
    2-hour watermark, per-session entry type via ``min_by`` over the
    total (ts, event_id) order, run under Trigger.AvailableNow and
    rolled up to the same (entry_type, n_sessions, n_events,
    total_value_cents) shape.  Boundary semantics follow
    ``session_window`` (microsecond timestamps, a gap of EXACTLY the
    threshold starts a new session), so the pytest twin recomputes
    the batch expectation under those rules rather than the graded
    batch key's floored-seconds contract.

    Scale: session state shards by user across the state store;
    the watermark evicts closed sessions; the final rollup is a tiny
    entry-type aggregate over the emitted sessions."""
    ensure_deterministic_session(spark)
    import os

    from ..streaming.windows import read_event_stream

    path = scratch_path("stream_attr", events_tag(sf_dir))
    # the staged copy of a static corpus table is content-stable —
    # rewrite only when absent/incomplete (the merge_upsert device,
    # VERDICT r06 #6), keeping the timed path the STREAMING work
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from ..sources.layout import clean_superseded

        clean_superseded(path)  # reap stale-tag siblings (VERDICT r15 #3)
        load_table(spark, sf_dir, "events").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
    name = f"stream_attr_{events_tag(sf_dir)}"
    per_session = (
        read_event_stream(spark, path)
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            _cents("value").alias("cents"),
        )
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.expr("min_by(event_type, struct(ts, event_id))").alias("entry_type"),
            F.sum("cents").alias("scents"),
            F.count(F.lit(1)).alias("nev"),
        )
    )
    # size the stateful shuffle (= session-window state shards) to the
    # staged volume (r15: the r14 LOJ bytes-derived rule, shared via
    # streaming/windows.py — 64 shards on a few-MB replay is pure
    # state-store provisioning overhead; the rule grows the count
    # back for real volumes)
    from ..streaming.windows import staged_stream_partitions

    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": staged_stream_partitions(path)}
    ):
        q = (
            per_session.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("nev").cast("long").alias("n_events"),
            F.sum("scents").cast("long").alias("total_value_cents"),
        )
        .orderBy("entry_type")
    )


@query(
    "events_user_mode_type",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), best AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY c DESC, event_type) AS rk
      FROM per
    )
    SELECT event_type AS mode_type,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM best WHERE rk = 1
    GROUP BY event_type
    ORDER BY mode_type
    """,
)
def events_user_mode_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (deterministic: count desc, then
    lexicographic type) rolled up to "how many users are primarily
    viewers / clickers / buyers" — the behavioral-segment headcount.

    Scale: one (user, type) hash aggregate shrinks the stream to at
    most |users|·|types| rows, then a per-user window picks the mode
    — frames are type-count sized (~5 rows); the final rollup is
    type-domain sized.  No raw-event window anywhere."""
    ensure_deterministic_session(spark)
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("c").desc(), "event_type")
    best = per.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.groupBy(F.col("event_type").alias("mode_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("mode_type")
    )


@query(
    "orders_priority_mix_shift",
    oracle="""
    WITH half AS (
      SELECT o_orderpriority AS pri,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
               THEN 0 ELSE 1 END AS h
      FROM orders
    ), per AS (
      SELECT pri,
             SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS n2
      FROM half GROUP BY pri
    ), tot AS (
      SELECT pri, n1, n2,
             SUM(n1) OVER () AS t1, SUM(n2) OVER () AS t2
      FROM per
    )
    SELECT pri,
           CAST(n1 AS BIGINT) AS n_before,
           CAST(n2 AS BIGINT) AS n_after,
           CAST(n1 * 1000000 // t1 AS BIGINT) AS share_before_ppm,
           CAST(n2 * 1000000 // t2 AS BIGINT) AS share_after_ppm,
           CAST(CASE WHEN n2 * t1 >= n1 * t2
                THEN (n2 * t1 - n1 * t2) * 1000000 // (t1 * t2)
                ELSE -((n1 * t2 - n2 * t1) * 1000000 // (t1 * t2))
                END AS BIGINT) AS shift_ppm
    FROM tot
    ORDER BY pri
    """,
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority mix shift between eras (orders before vs since
    1998): per-priority counts, exact ppm shares of each era, and the
    signed ppm share shift — computed division-light as
    (n2·t1 − n1·t2)/(t1·t2) so the sign is decided by exact integer
    cross-multiplication (the [[event_ab_test_lift]] device) and only
    ONE floor division happens per row.  Half the total-variation
    distance of the mix is Σ|shift|/2 — recoverable from the rows.

    Scale: one priority-keyed aggregate with two conditional sums;
    the share window runs over the 5-row priority domain."""
    ensure_deterministic_session(spark)
    half = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"), 0)
        .otherwise(1)
        .alias("h"),
    )
    per = half.groupBy("pri").agg(
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("n2"),
    )
    w = Window.partitionBy()
    tot = per.select(
        "pri",
        "n1",
        "n2",
        F.sum("n1").over(w).alias("t1"),
        F.sum("n2").over(w).alias("t2"),
    )
    return tot.select(
        "pri",
        F.col("n1").cast("long").alias("n_before"),
        F.col("n2").cast("long").alias("n_after"),
        F.expr("n1 * 1000000 div t1").cast("long").alias("share_before_ppm"),
        F.expr("n2 * 1000000 div t2").cast("long").alias("share_after_ppm"),
        F.expr(
            """CASE WHEN n2 * t1 >= n1 * t2
               THEN (n2 * t1 - n1 * t2) * 1000000 div (t1 * t2)
               ELSE -((n1 * t2 - n2 * t1) * 1000000 div (t1 * t2))
               END"""
        )
        .cast("long")
        .alias("shift_ppm"),
    ).orderBy("pri")


@query(
    "interarrival_gap_p90",
    oracle="""
    WITH g AS (
      SELECT o_custkey,
             (CAST(FLOOR(epoch(o_orderdate)) AS BIGINT)
              - LAG(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)) // 86400 AS gap_d
      FROM orders
    ), gaps AS (
      SELECT gap_d FROM g WHERE gap_d IS NOT NULL
    ), buck AS (
      SELECT gap_d, COUNT(*) AS cnt FROM gaps GROUP BY gap_d
    ), cum AS (
      SELECT gap_d, cnt,
             SUM(cnt) OVER (ORDER BY gap_d ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS n
      FROM buck
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN cum * 10 >= n * 5 THEN gap_d END) AS BIGINT)
             AS p50_days,
           CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_d END) AS BIGINT)
             AS p90_days,
           CAST(MAX(gap_d) AS BIGINT) AS max_days
    FROM cum
    """,
)
def interarrival_gap_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of customer inter-order gaps (days) — the
    repurchase-cadence statistic a retention model calibrates
    against.  Percentile definition: smallest gap value whose
    cumulative count reaches the rank threshold (cum·10 ≥ n·k,
    cross-multiplied — no division at all).

    Scale (value-bucketed rank statistics): per-customer LAG runs in
    customer-partitioned frames; the percentile pass then groups BY
    GAP VALUE and prefix-sums over distinct day counts — a domain of
    at most a few thousand values regardless of order count.  The
    full gap list is never sorted globally."""
    ensure_deterministic_session(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", _epoch_s("o_orderdate").alias("t")
    )
    w = Window.partitionBy("o_custkey").orderBy("t", "o_orderkey")
    gaps = (
        o.withColumn("prev", F.lag("t").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.expr("(t - prev) div 86400").alias("gap_d"))
    )
    buck = gaps.groupBy("gap_d").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("gap_d").rowsBetween(Window.unboundedPreceding, 0)
    cum = buck.select(
        "gap_d",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n_gaps"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 5, F.col("gap_d")))
        .cast("long")
        .alias("p50_days"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("gap_d")))
        .cast("long")
        .alias("p90_days"),
        F.max("gap_d").cast("long").alias("max_days"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS d,
             user_id
      FROM events
    ), dau AS (
      SELECT d, COUNT(*) AS dau FROM du GROUP BY d
    ), contrib AS (
      SELECT DISTINCT du.d + o.o AS wd, du.user_id
      FROM du CROSS JOIN (SELECT UNNEST(range(7)) AS o) o
    ), wau AS (
      SELECT wd AS d, COUNT(*) AS wau FROM contrib GROUP BY wd
    )
    SELECT CAST(dau.d AS BIGINT) AS epoch_day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(dau.dau * 1000 // wau.wau AS BIGINT) AS stickiness_milli
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY epoch_day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day — the engagement
    ratio product dashboards headline.  WAU is EXACT: each active
    (day, user) pair contributes the user to the WAU of days
    d..d+6 (a bounded 7-row fan-out), then one distinct collapses
    multi-day actives — no rolling COUNT(DISTINCT) window, which is
    either approximate or a per-day rescan at scale.  Days where the
    7-day lookback starts before the corpus begin still report (their
    WAU covers the observed prefix), matching the SQL twin exactly.

    Scale: distinct (day, user) is one shuffle; the ×7 explode is
    constant fan-out; both rollups are day-domain sized.  The
    stickiness ratio is exact milli with DAU ≤ WAU ≤ 7·DAU bounds."""
    ensure_deterministic_session(spark)
    du = (
        load_table(spark, sf_dir, "events")
        .select(_epoch_s("ts").alias("t"), "user_id")
        .select(F.expr("t div 86400").alias("d"), "user_id")
        .distinct()
    )
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        du.select(
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wd"), "user_id"
        )
        .distinct()
    )
    wau = contrib.groupBy(F.col("wd").alias("d")).agg(
        F.count(F.lit(1)).alias("wau")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").cast("long").alias("epoch_day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.expr("dau * 1000 div wau").cast("long").alias("stickiness_milli"),
        )
        .orderBy("epoch_day")
    )


@query(
    "returns_by_brand",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS return_milli
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)
def returns_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per part brand — the product-quality league table
    (which brands come back).  Completes the returns analyses
    ([[ship_lag_bands]] asks WHEN returns correlate, this asks WHAT).

    Scale: fact ⋈ broadcast part dim (key + brand only, pruned at
    scan), then a brand-domain rollup with one conditional sum."""
    ensure_deterministic_session(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return (
        j.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returned"),
        )
        .select(
            "brand",
            "n_lines",
            "n_returned",
            F.expr("n_returned * 1000 div n_lines").cast("long").alias("return_milli"),
        )
        .orderBy("brand")
    )


@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS d,
             COUNT(*) AS n
      FROM events GROUP BY d
    ), med AS (
      SELECT n, COUNT(*) AS cnt FROM daily GROUP BY n
    ), medc AS (
      SELECT n, cnt,
             SUM(cnt) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS tot
      FROM med
    ), m AS (
      SELECT MIN(CASE WHEN cum * 2 >= tot THEN n END) AS median FROM medc
    ), dev AS (
      SELECT ABS(daily.n - m.median) AS ad FROM daily, m
    ), devb AS (
      SELECT ad, COUNT(*) AS cnt FROM dev GROUP BY ad
    ), devc AS (
      SELECT ad, cnt,
             SUM(cnt) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS tot
      FROM devb
    ), mad AS (
      SELECT MIN(CASE WHEN cum * 2 >= tot THEN ad END) AS mad FROM devc
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(m.median AS BIGINT) AS median_daily,
           CAST(mad.mad AS BIGINT) AS mad_daily,
           CAST((SELECT COUNT(*) FROM daily
                 WHERE ABS(daily.n - m.median) > 3 * mad.mad) AS BIGINT)
             AS n_anomalous_days
    FROM m, mad
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly count via median absolute
    deviation: days whose event count sits more than 3 MAD from the
    median — the outlier rule that (unlike 3σ, [[events_control_chart]])
    a single crazy day cannot drag.  Lower-median convention
    (smallest value whose cumulative count reaches half, cum·2 ≥ n) —
    exact, division-free, identical in both engines.

    Scale: daily counts are calendar-domain sized; BOTH medians run
    as value-bucketed prefix sums over distinct values (the
    plans/metrics.py rank-statistic device) — nothing sorts raw
    events; the two scalar statistics broadcast back as single-row
    joins (sanctioned BNLJ)."""
    ensure_deterministic_session(spark)
    daily = (
        load_table(spark, sf_dir, "events")
        .select(_epoch_s("ts").alias("t"))
        .select(F.expr("t div 86400").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def lower_median(df: DataFrame, col: str) -> DataFrame:
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

    med = lower_median(daily, "n").select(F.col("m").alias("median"))
    dev = daily.crossJoin(F.broadcast(med)).select(
        "d", "n", "median", F.abs(F.col("n") - F.col("median")).alias("ad")
    )
    mad = lower_median(dev.select("ad"), "ad").select(F.col("m").alias("mad"))
    flagged = dev.crossJoin(F.broadcast(mad))
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("median").cast("long").alias("median_daily"),
        F.max("mad").cast("long").alias("mad_daily"),
        F.sum(F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0))
        .cast("long")
        .alias("n_anomalous_days"),
    )


@query(
    "session_duration_hist",
    oracle=f"""
    WITH {_SESSION_CTE}, dur AS (
      SELECT user_id, sid, MAX(t) - MIN(t) AS secs
      FROM f GROUP BY user_id, sid
    ), b AS (
      SELECT CASE WHEN secs = 0 THEN 0
                  ELSE CAST(FLOOR(LOG2(secs + 1)) AS BIGINT) + 1
             END AS bucket_log2,
             secs
      FROM dur
    )
    SELECT bucket_log2,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MIN(secs) AS BIGINT) AS min_secs,
           CAST(MAX(secs) AS BIGINT) AS max_secs
    FROM b GROUP BY bucket_log2
    ORDER BY bucket_log2
    """,
)
def session_duration_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration spectrum on a log2 scale (bucket k ≥ 1 holds
    sessions lasting [2^(k−1)−1, 2^k−2] seconds; bucket 0 = single-
    instant).  The engagement-depth histogram that pairs with
    [[session_bounce_rate]]'s event-count view.  LOG2 at integer
    inputs is bit-exact in both engines only away from power-of-two
    boundaries, so the bucket is floor(log2(secs+1))+1 — the +1 shift
    keeps every boundary input (2^k−1 → exact power) on the safe
    side, same trick as [[agg_histogram_log2]]'s bit-length form.

    Scale: the sessionizer's per-user windows, then one
    (user, sid) rollup and a ~35-bucket histogram."""
    ensure_deterministic_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", _epoch_s("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    lag_t = F.lag("t").over(w)
    g = ev.withColumn(
        "new_s",
        F.when(lag_t.isNull() | (F.col("t") - lag_t > 1800), 1).otherwise(0),
    ).withColumn("sid", F.sum("new_s").over(run))
    dur = g.groupBy("user_id", "sid").agg(
        (F.max("t") - F.min("t")).alias("secs")
    )
    b = dur.withColumn(
        "bucket_log2",
        F.when(F.col("secs") == 0, F.lit(0)).otherwise(
            F.floor(F.log2(F.col("secs") + 1)).cast("long") + 1
        ),
    )
    return (
        b.groupBy("bucket_log2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.min("secs").cast("long").alias("min_secs"),
            F.max("secs").cast("long").alias("max_secs"),
        )
        .orderBy("bucket_log2")
    )


@query(
    "customer_churn_by_segment",
    oracle="""
    WITH last AS (
      SELECT o_custkey,
             MAX(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT)) AS last_t
      FROM orders GROUP BY o_custkey
    ), frontier AS (
      SELECT MAX(last_t) AS now_t FROM last
    ), flagged AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN (f.now_t - l.last_t) // 86400 > 365
               THEN 1 ELSE 0 END AS churned
      FROM last l
      JOIN customer c ON l.o_custkey = c.c_custkey
      CROSS JOIN frontier f
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(churned) AS BIGINT) AS n_churned,
           CAST(SUM(churned) * 1000 // COUNT(*) AS BIGINT) AS churn_milli
    FROM flagged
    GROUP BY segment
    ORDER BY segment
    """,
)
def customer_churn_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn rate by market segment: customers whose LAST order is
    more than a year behind the corpus frontier (the newest order
    anywhere), per segment — the dashboard behind win-back targeting.
    Frontier-relative cutoffs keep the key deterministic on a static
    corpus (the [[orders_backlog_aging]] device) where wall-clock
    "today" would not be.

    Scale: last-order epoch is one map-side groupBy(MAX); the
    frontier is its single-row re-aggregate broadcast back
    (sanctioned scalar BNLJ); the segment join is dim-keyed."""
    ensure_deterministic_session(spark)
    last = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max(_epoch_s("o_orderdate")).alias("last_t"))
    )
    frontier = last.agg(F.max("last_t").alias("now_t"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    flagged = (
        last.join(c, last.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(frontier))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.expr("(now_t - last_t) div 86400") > 365, 1)
            .otherwise(0)
            .alias("churned"),
        )
    )
    return (
        flagged.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("churned").cast("long").alias("n_churned"),
        )
        .select(
            "segment",
            "n_customers",
            "n_churned",
            F.expr("n_churned * 1000 div n_customers")
            .cast("long")
            .alias("churn_milli"),
        )
        .orderBy("segment")
    )


@query(
    "session_conversion_rate",
    oracle=f"""
    WITH {_SESSION_CTE}, conv AS (
      SELECT p.user_id, p.sid, p.entry_type,
             MAX(CASE WHEN f.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM per_session p
      JOIN f ON f.user_id = p.user_id AND f.sid = p.sid
      GROUP BY p.user_id, p.sid, p.entry_type
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST(SUM(converted) * 1000 // COUNT(*) AS BIGINT)
             AS conversion_milli
    FROM conv
    GROUP BY entry_type
    ORDER BY entry_type
    """,
)
def session_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion rate by session entry type: the share of sessions
    containing at least one purchase, attributed to the event type
    that opened the session — the revenue-side completion of
    [[session_bounce_rate]] (same sessionizer, opposite tail).

    Scale: the engine pushes the converted flag INTO the sessionizer
    pass (max-of-indicator over the same running frame the session id
    uses) rather than re-joining sessions to events — one window
    stage, one rollup, no self-join.  The oracle's join formulation
    is the semantic spec; the engine's fold is the scale shape."""
    ensure_deterministic_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", _epoch_s("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    lag_t = F.lag("t").over(w)
    g = ev.withColumn(
        "new_s",
        F.when(lag_t.isNull() | (F.col("t") - lag_t > 1800), 1).otherwise(0),
    )
    f = g.select(
        "user_id",
        F.sum("new_s").over(run).alias("sid"),
        F.last(
            F.when(F.col("new_s") == 1, F.col("event_type")), ignorenulls=True
        )
        .over(run)
        .alias("entry_type"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    conv = f.groupBy("user_id", "sid", "entry_type").agg(
        F.max("is_p").alias("converted")
    )
    return (
        conv.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_converted",
            F.expr("n_converted * 1000 div n_sessions")
            .cast("long")
            .alias("conversion_milli"),
        )
        .orderBy("entry_type")
    )


@query(
    "revenue_share_of_parent",
    oracle="""
    WITH j AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), per AS (
      SELECT region, nation, SUM(cents) AS rev FROM j GROUP BY region, nation
    )
    SELECT region, nation,
           CAST(rev AS BIGINT) AS revenue_cents,
           CAST(rev * 1000000 // SUM(rev) OVER (PARTITION BY region)
                AS BIGINT) AS share_of_region_ppm,
           CAST(rev * 1000000 // SUM(rev) OVER () AS BIGINT)
             AS share_of_total_ppm
    FROM per
    ORDER BY region, nation
    """,
)
def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent rollup: each nation's revenue as an exact ppm
    share of its region AND of the world — the two-level drill-down
    every BI hierarchy renders (bar within group, group within
    total).

    Scale: the snowflake chain joins broadcast dims onto orders
    (nation/region are tiny), one (region, nation) rollup, then both
    share windows run over the ~25-row nation domain."""
    ensure_deterministic_session(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    per = j.groupBy("region", "nation").agg(F.sum("cents").alias("rev"))
    shares = per.select(
        "region",
        "nation",
        F.col("rev").cast("long").alias("revenue_cents"),
        F.sum("rev").over(Window.partitionBy("region")).alias("regtot"),
        F.sum("rev").over(Window.partitionBy()).alias("tot"),
    )
    return shares.select(
        "region",
        "nation",
        "revenue_cents",
        F.expr("revenue_cents * 1000000 div regtot")
        .cast("long")
        .alias("share_of_region_ppm"),
        F.expr("revenue_cents * 1000000 div tot")
        .cast("long")
        .alias("share_of_total_ppm"),
    ).orderBy("region", "nation")


@query(
    "ts_time_weighted_avg",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), seg AS (
      SELECT event_type, cents,
             LEAD(t) OVER (PARTITION BY event_type ORDER BY t, event_id) - t
               AS dur
      FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur) AS BIGINT) AS total_secs,
           CAST(SUM(cents * dur) AS BIGINT) AS weighted_cent_secs,
           CAST(SUM(cents * dur) // SUM(dur) AS BIGINT) AS twap_cents
    FROM seg WHERE dur IS NOT NULL AND dur > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event type: each
    observation holds until the next one of the same type, weighting
    its value by that duration — the correct average for
    irregularly-sampled series (a plain AVG over-counts bursts), the
    finance/metering standard.  Zero-duration segments (same-second
    observations) carry no time and are excluded, exactly as in the
    SQL twin.

    Scale: one LEAD over type-partitioned frames (the series key is
    the partition key — no global sort), then exact integer
    cent-second sums; the division is a single integer floor at the
    end."""
    ensure_deterministic_session(spark)
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        _epoch_s("ts").alias("t"),
        "event_id",
        _cents("value").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    seg = e.select(
        "event_type", "cents", (F.lead("t").over(w) - F.col("t")).alias("dur")
    ).filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
    return (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("dur").cast("long").alias("total_secs"),
            F.sum(F.col("cents") * F.col("dur"))
            .cast("long")
            .alias("weighted_cent_secs"),
        )
        .select(
            "event_type",
            "n_segments",
            "total_secs",
            "weighted_cent_secs",
            F.expr("weighted_cent_secs div total_secs")
            .cast("long")
            .alias("twap_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
      FROM events
    ), v AS (
      SELECT user_id, MIN(t) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.t) AS t_buy
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.t >= v.t_view
      GROUP BY e.user_id
    ), lag_s AS (
      SELECT p.t_buy - v.t_view AS secs
      FROM v JOIN p ON v.user_id = p.user_id
    ), buck AS (
      SELECT secs, COUNT(*) AS cnt FROM lag_s GROUP BY secs
    ), cum AS (
      SELECT secs, cnt,
             SUM(cnt) OVER (ORDER BY secs ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS n
      FROM buck
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converters,
           CAST(MIN(CASE WHEN cum * 10 >= n * 5 THEN secs END) AS BIGINT)
             AS p50_secs,
           CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN secs END) AS BIGINT)
             AS p90_secs,
           CAST(MAX(secs) AS BIGINT) AS max_secs
    FROM cum
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90 of the first-view → first-subsequent-purchase
    delay — the latency companion to [[event_funnel]]'s conversion
    COUNT (how long conversion takes, not just whether it happens).
    Percentiles use the cross-multiplied rank threshold
    (cum·10 ≥ n·k), division-free and engine-exact.

    Scale: two user-keyed min-aggregates and one user-keyed join
    (all reuse the same user_id shuffle), then the value-bucketed
    percentile pass over distinct delays — the plans/metrics.py
    rank-statistic device; raw per-user rows are never sorted
    globally."""
    ensure_deterministic_session(spark)
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch_s("ts").alias("t")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("t") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_buy"), F.min("t_view").alias("t_view0"))
    )
    lag_s = p.select((F.col("t_buy") - F.col("t_view0")).alias("secs"))
    buck = lag_s.groupBy("secs").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.orderBy("secs").rowsBetween(Window.unboundedPreceding, 0)
    cum = buck.select(
        "secs",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n_converters"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 5, F.col("secs")))
        .cast("long")
        .alias("p50_secs"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("secs")))
        .cast("long")
        .alias("p90_secs"),
        F.max("secs").cast("long").alias("max_secs"),
    )


@query(
    "session_path_topk",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
      FROM events
    ), g AS (
      SELECT *,
             CASE WHEN LAG(t) OVER w IS NULL
                    OR t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ), s AS (
      SELECT *,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), r AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
               ORDER BY t, event_id) AS rn
      FROM s
    ), p AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id, sid
    ), c AS (
      SELECT path, COUNT(*) AS n FROM p GROUP BY path
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank,
           path,
           CAST(n AS BIGINT) AS n_sessions
    FROM c ORDER BY n DESC, path LIMIT 10
    """,
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 session opening paths: the first three event types of
    each 30-minute-gap session, joined as ``a>b>c`` and ranked by
    session count — the path-analysis view product teams read next to
    [[event_markov_transitions]] (pairwise) and [[event_funnel]]
    (a FIXED path): which openings actually dominate, unprompted.

    Scale: the sessionizer is the shared per-user window pass; the
    per-session path is an rn<=3 filter plus a (user, sid) aggregate
    whose state is at most three types; the final top-10 is
    orderBy+limit (TakeOrderedAndProject — never a global sort), and
    only those 10 rows pass through the rank window."""
    ensure_deterministic_session(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", _epoch_s("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    lag_t = F.lag("t").over(w)
    s = ev.withColumn(
        "new_s",
        F.when(lag_t.isNull() | (F.col("t") - lag_t > 1800), 1).otherwise(0),
    ).withColumn("sid", F.sum("new_s").over(run))
    wse = Window.partitionBy("user_id", "sid").orderBy("t", "event_id")
    r = s.withColumn("rn", F.row_number().over(wse)).filter(F.col("rn") <= 3)
    paths = r.groupBy("user_id", "sid").agg(
        F.expr(
            "concat_ws('>', transform(array_sort(collect_list(struct(rn, event_type))),"
            " x -> x.event_type))"
        ).alias("path")
    )
    top = (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "path",
        F.col("n").cast("long").alias("n_sessions"),
    ).orderBy("rank")
