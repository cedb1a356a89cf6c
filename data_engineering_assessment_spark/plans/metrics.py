"""Round-7b statistical evaluation & monitoring operators — the
measurement layer a corpus-curation pipeline runs AROUND its filters:
did the quality gate actually rank documents well (AUC, calibration,
inter-gate agreement), did the event stream shift (CUSUM changepoint,
lagged covariance), how concentrated is the token distribution (exact
Gini), how crisp are the semantic clusters (silhouette margin), plus
the blocked edit-distance tier the dedup ladder was missing between
exact-prefix and shingle-Jaccard.

Output contract (README round-3): every graded column is BIGINT /
STRING fixed-point; ratios are exact integer milli/ppm (`x * 1000 div
y`); the only doubles compared are single IEEE ops on identical
operands (the [[dedup_embed_cosine]] fold-order precedent).  Signed
ratios pin truncation explicitly (toward zero on the absolute value)
because `div`/`//` semantics on negatives are not engine-portable.

Scale notes use one shared trick worth naming: **value-bucketed rank
statistics**.  Rank-based measures (AUC, Gini) are computed by
grouping on the VALUE first (one hash shuffle, map-side combined) and
prefix-summing over *distinct values* — a window whose cardinality is
the value domain (word counts, frequency counts), not the row count.
A 100 TB corpus has billions of documents but only ~1e5 distinct
lengths, so the ordered pass is a driver-sized frame no matter the
input scale; nothing ever global-sorts the raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import word_count, words
from ..operators.similarity import dot, norm_sq
from ..sources.tables import load_table, spread
from .registry import query


def _epoch_s(c) -> F.Column:
    """Timestamp → epoch seconds BIGINT (floor), engine-portable —
    same contract as plans/relational.py:31 (session pinned UTC;
    DuckDB twin is CAST(FLOOR(epoch(ts)) AS BIGINT))."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col.cast("timestamp").cast("double")).cast("long")


# ---------------------------------------------------------------------------
# Gate evaluation: AUC, calibration, agreement
# ---------------------------------------------------------------------------


@query(
    "quality_score_auc",
    oracle="""
    WITH scored AS (
      SELECT len(string_split(text, ' ')) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ), per AS (
      SELECT s, SUM(pos) AS np, SUM(1 - pos) AS nn
      FROM scored GROUP BY s
    ), cum AS (
      SELECT s, np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per
    )
    SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           CAST(SUM(2 * np * below + np * nn) AS BIGINT) AS u2,
           CAST(SUM(2 * np * below + np * nn) * 1000
                // (2 * SUM(np) * SUM(nn)) AS BIGINT) AS auc_milli
    FROM cum
    """,
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a quality score (here: word count predicting
    lang='en') via the Mann–Whitney rank-sum identity — the metric a
    curation team reports before trusting a classifier gate like
    [[quality_weighted_gate]].  ``u2`` is twice the U statistic
    (ties count 1 instead of 0.5, keeping everything integer);
    AUC = u2 / (2·n_pos·n_neg), emitted as exact milli.

    Scale (value-bucketed rank statistics, module docstring): one hash
    shuffle groups rows BY SCORE (map-side combined), then the ordered
    prefix pass runs over distinct score values only — bounded by the
    score domain (~1e3 word-count values), not the corpus size.  No
    global sort of documents ever happens; a naive rank() over 1e11
    rows would single-task, this never does."""
    d = load_table(spark, sf_dir, "documents").select(
        word_count("text").cast("long").alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per = d.groupBy("s").agg(
        F.sum("pos").alias("np"), F.sum(F.lit(1) - F.col("pos")).alias("nn")
    )
    below = F.coalesce(
        F.sum("nn").over(
            Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cum = per.withColumn("below", below)
    return cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(2 * F.col("np") * F.col("below") + F.col("np") * F.col("nn"))
        .cast("long")
        .alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.expr("u2 * 1000 div (2 * n_pos * n_neg)").cast("long").alias("auc_milli"),
    )


@query(
    "calibration_bins",
    oracle="""
    WITH lims AS (
      SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), binned AS (
      SELECT LEAST(9, (d.n_chars - l.mn) * 10 // (l.mx - l.mn + 1)) AS bin,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents d CROSS JOIN lims l
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           count(*) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(pos) * 1000 // count(*) AS BIGINT) AS pos_rate_milli
    FROM binned GROUP BY bin
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a score (n_chars) against a label
    (lang='en'): ten equi-width bins over the observed score range,
    each reporting document count, positives, and the exact-milli
    positive rate — the calibration evidence that decides whether a
    gate's threshold transfers across corpora.  Companion to
    [[quality_score_auc]] (discrimination) — this measures
    calibration.

    Scale: pass 1 is a two-scalar min/max aggregate; the single result
    row broadcasts (BroadcastNestedLoopJoin on a 1-row build side —
    the sanctioned scalar-broadcast shape); pass 2 bins at scan speed
    and hash-aggregates on 10 keys, map-side combined."""
    d = load_table(spark, sf_dir, "documents").select(
        "n_chars", F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos")
    )
    lims = d.agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    binned = d.crossJoin(F.broadcast(lims)).select(
        F.least(F.lit(9), F.expr("(n_chars - mn) * 10 div (mx - mn + 1)"))
        .cast("long")
        .alias("bin"),
        "pos",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.expr("SUM(pos) * 1000 div COUNT(*)").cast("long").alias("pos_rate_milli"),
    )


@query(
    "gate_agreement_kappa",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN len(string_split(text, ' ')) >= 55 THEN 1 ELSE 0 END AS a,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS b
      FROM documents
    ), c AS (
      SELECT CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM g
    )
    SELECT n11, n10, n01, n00,
           CAST(2 * (n11 * n00 - n10 * n01) AS BIGINT) AS kappa_num,
           CAST((n11 + n10) * (n10 + n00)
                + (n11 + n01) * (n01 + n00) AS BIGINT) AS kappa_den,
           CAST(CASE WHEN n11 * n00 >= n10 * n01
                THEN 2 * (n11 * n00 - n10 * n01) * 1000
                     // ((n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00))
                ELSE -(2 * (n10 * n01 - n11 * n00) * 1000
                     // ((n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00)))
                END AS BIGINT) AS kappa_milli
    FROM c
    """,
)
def gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two heuristic quality gates (word-count
    ≥ 55 vs char-count ≥ 300) — chance-corrected agreement, the
    standard check that two filters are measuring the same thing
    before one replaces the other in a pipeline.  For binary 2×2
    tables kappa reduces to 2(n11·n00 − n10·n01) / ((n11+n10)(n10+n00)
    + (n11+n01)(n01+n00)) — exact integers end to end; the milli form
    truncates the ABSOLUTE value toward zero and re-applies the sign
    explicitly, because negative integer division is not portable
    across engines.

    Scale: a single full-scan aggregate — four conditional sums, no
    shuffle beyond the final single-partition combine."""
    d = load_table(spark, sf_dir, "documents").select(
        F.when(word_count("text") >= 55, 1).otherwise(0).alias("a"),
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("b"),
    )
    c = d.agg(
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    return c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        (2 * (F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01")))
        .cast("long")
        .alias("kappa_num"),
        (
            (F.col("n11") + F.col("n10")) * (F.col("n10") + F.col("n00"))
            + (F.col("n11") + F.col("n01")) * (F.col("n01") + F.col("n00"))
        )
        .cast("long")
        .alias("kappa_den"),
        F.expr(
            """CASE WHEN n11 * n00 >= n10 * n01
               THEN 2 * (n11 * n00 - n10 * n01) * 1000
                    div ((n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00))
               ELSE -(2 * (n10 * n01 - n11 * n00) * 1000
                    div ((n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00)))
               END"""
        )
        .cast("long")
        .alias("kappa_milli"),
    )


# ---------------------------------------------------------------------------
# Stream monitoring: changepoint, lagged covariance, concurrency
# ---------------------------------------------------------------------------


@query(
    "ts_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ), stat AS (
      SELECT event_type, day_idx, c,
             COUNT(*) OVER (PARTITION BY event_type) AS d,
             SUM(c) OVER (PARTITION BY event_type) AS tot
      FROM daily
    ), cu AS (
      SELECT event_type, day_idx, d, tot,
             SUM(d * c - tot) OVER (PARTITION BY event_type ORDER BY day_idx
               ROWS UNBOUNDED PRECEDING) AS cusum
      FROM stat
    ), ranked AS (
      SELECT event_type, day_idx, d, tot, ABS(cusum) AS a,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ABS(cusum) DESC, day_idx) AS rn
      FROM cu
    )
    SELECT event_type,
           CAST(d AS BIGINT) AS n_days,
           CAST(tot AS BIGINT) AS total_events,
           CAST(a AS BIGINT) AS max_abs_cusum,
           CAST(day_idx AS BIGINT) AS peak_day_idx
    FROM ranked WHERE rn = 1
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation of daily counts from the series mean peaks —
    the classic drift alarm a pipeline monitor raises when an event
    stream's rate shifts mid-window.  The deviation is scaled by the
    day count (D·c_d − total), keeping the whole cusum in exact
    integers with the same argmax as the mean-centered float version.

    Scale: daily counts are one hash shuffle on (type, day) with
    map-side combine — the only pass over raw events; every window
    after that runs on the (type × day) frame, whose size is the
    calendar, not the data.  Ties on |cusum| break to the earliest
    day."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", _epoch_s("ts").alias("ts_s")
    ).select("event_type", F.expr("ts_s div 86400").alias("day_idx"))
    daily = e.groupBy("event_type", "day_idx").agg(F.count("*").alias("c"))
    part = Window.partitionBy("event_type")
    stat = daily.select(
        "event_type",
        "day_idx",
        "c",
        F.count("*").over(part).alias("d"),
        F.sum("c").over(part).alias("tot"),
    )
    cum = Window.partitionBy("event_type").orderBy("day_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cu = stat.withColumn(
        "cusum", F.sum(F.col("d") * F.col("c") - F.col("tot")).over(cum)
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc(F.abs(F.col("cusum"))), F.asc("day_idx")
        )
    )
    return (
        cu.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("d").cast("long").alias("n_days"),
            F.col("tot").cast("long").alias("total_events"),
            F.abs(F.col("cusum")).cast("long").alias("max_abs_cusum"),
            F.col("day_idx").cast("long").alias("peak_day_idx"),
        )
    )


@query(
    "ts_lagged_covariance",
    oracle="""
    WITH daily AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1
    ), led AS (
      SELECT day_idx, x,
             lead(y, 0) OVER w AS y0, lead(day_idx, 0) OVER w AS d0,
             lead(y, 1) OVER w AS y1, lead(day_idx, 1) OVER w AS d1,
             lead(y, 7) OVER w AS y7, lead(day_idx, 7) OVER w AS d7
      FROM daily WINDOW w AS (ORDER BY day_idx)
    ), pairs AS (
      SELECT 0 AS lag, x, y0 AS y FROM led WHERE d0 = day_idx + 0
      UNION ALL
      SELECT 1 AS lag, x, y1 AS y FROM led WHERE d1 = day_idx + 1
      UNION ALL
      SELECT 7 AS lag, x, y7 AS y FROM led WHERE d7 = day_idx + 7
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           count(*) AS n_days,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS cov_num
    FROM pairs GROUP BY lag
    """,
)
def ts_lagged_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-covariance between two event streams (does today's
    click volume predict purchases 0/1/7 days later?) — the lead-lag
    diagnostic behind conversion-delay and attribution-window choices.
    ``cov_num`` is the n-scaled covariance numerator n·Σxy − Σx·Σy,
    exact BIGINT; its sign and relative magnitude across lags is the
    decision signal, no division needed.  Pairs require the lead row
    to be exactly `lag` days ahead (calendar lag, not row lag), so
    gap days drop out rather than silently misaligning.

    Scale: one hash shuffle over raw events onto the daily frame;
    the lead window and the per-lag aggregate run on calendar-sized
    data.  The three lags share a single window pass."""
    e = load_table(spark, sf_dir, "events").select(
        _epoch_s("ts").alias("ts_s"), "event_type"
    ).select(F.expr("ts_s div 86400").alias("day_idx"), "event_type")
    daily = e.groupBy("day_idx").agg(
        F.count_if(F.col("event_type") == "click").alias("x"),
        F.count_if(F.col("event_type") == "purchase").alias("y"),
    )
    w = Window.orderBy("day_idx")
    led = daily.select(
        "day_idx",
        "x",
        *[
            c
            for lag in (0, 1, 7)
            for c in (
                F.lead("y", lag).over(w).alias(f"y{lag}"),
                F.lead("day_idx", lag).over(w).alias(f"d{lag}"),
            )
        ],
    )
    pairs = None
    for lag in (0, 1, 7):
        p = led.filter(F.col(f"d{lag}") == F.col("day_idx") + lag).select(
            F.lit(lag).cast("long").alias("lag"),
            F.col("x"),
            F.col(f"y{lag}").alias("y"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return pairs.groupBy("lag").agg(
        F.count("*").alias("n_days"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("long")
        .alias("cov_num"),
    )


@query(
    "session_max_concurrency",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s FROM events
    ), l AS (
      SELECT user_id, ts_s,
             CASE WHEN lag(ts_s) OVER w IS NULL
                    OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
    ), s AS (
      SELECT user_id, ts_s,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM l
    ), sess AS (
      SELECT user_id, session_no, MIN(ts_s) AS start_s, MAX(ts_s) AS end_s
      FROM s GROUP BY 1, 2
    ), deltas AS (
      SELECT start_s // 60 AS m, 1 AS d FROM sess
      UNION ALL
      SELECT end_s // 60 + 1 AS m, -1 AS d FROM sess
    ), per_min AS (
      SELECT m, SUM(d) AS d_net,
             SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS plus_cnt
      FROM deltas GROUP BY m
    ), run AS (
      SELECT m, plus_cnt,
             SUM(d_net) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS running
      FROM per_min
    )
    SELECT CAST(SUM(plus_cnt) AS BIGINT) AS n_sessions,
           CAST(MAX(running) AS BIGINT) AS max_concurrency,
           CAST(MIN(CASE WHEN running = (SELECT MAX(running) FROM run)
                    THEN m END) AS BIGINT) AS peak_minute
    FROM run
    """,
)
def session_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions (capacity planning's headline number):
    sessionize per user with the 30-min-gap rule ([[sessionize_lag]]),
    sweep-line the session intervals as minute-bucketed ±1 deltas, and
    take the maximum of the running sum — plus the earliest minute it
    was reached.  A session occupies every minute from its start
    minute through its end minute inclusive.

    Scale: sessionization shuffles once on user_id (both window passes
    and the session agg share the partitioning); the sweep then lives
    on the MINUTE frame — cardinality is the time range (~5e5 minutes
    per year), independent of event volume, so the single ordered pass
    is calendar-sized.  The peak-minute argmax rides the same
    aggregate via a max-of-struct, no second pass over events."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", _epoch_s("ts").alias("ts_s")
    )
    wu = Window.partitionBy("user_id").orderBy("ts_s")
    gap = F.col("ts_s") - F.lag("ts_s").over(wu)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    cum = wu.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        e.withColumn("session_no", F.sum(is_new).over(cum))
        .groupBy("user_id", "session_no")
        .agg(F.min("ts_s").alias("start_s"), F.max("ts_s").alias("end_s"))
    )
    deltas = sess.select(
        F.expr("start_s div 60").alias("m"), F.lit(1).alias("d")
    ).unionAll(
        sess.select(F.expr("end_s div 60 + 1").alias("m"), F.lit(-1).alias("d"))
    )
    per_min = deltas.groupBy("m").agg(
        F.sum("d").alias("d_net"),
        F.count_if(F.col("d") == 1).alias("plus_cnt"),
    )
    run = per_min.withColumn(
        "running",
        F.sum("d_net").over(
            Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # max-of-struct: (running DESC, -m DESC) == earliest minute at the peak
    peak = F.max(F.struct(F.col("running"), (-F.col("m")).alias("neg_m")))
    return run.agg(
        F.sum("plus_cnt").cast("long").alias("n_sessions"),
        peak.alias("pk"),
    ).select(
        "n_sessions",
        F.col("pk.running").cast("long").alias("max_concurrency"),
        (-F.col("pk.neg_m")).cast("long").alias("peak_minute"),
    )


# ---------------------------------------------------------------------------
# Dedup ladder: blocked edit-distance tier
# ---------------------------------------------------------------------------


@query(
    "dedup_levenshtein_block",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, n_chars, left(text, 24) AS pfx FROM documents
    ), ok AS (
      SELECT pfx FROM d GROUP BY pfx HAVING count(*) BETWEEN 2 AND 32
    ), pairs AS (
      SELECT levenshtein(a.text, b.text) AS dist,
             GREATEST(a.n_chars, b.n_chars) AS mx
      FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
               AND ABS(a.n_chars - b.n_chars) <= 48
      WHERE a.pfx IN (SELECT pfx FROM ok)
    )
    SELECT count(*) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN dist * 10 <= mx THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_near,
           CAST(COALESCE(MIN(dist), -1) AS BIGINT) AS min_dist,
           CAST(COALESCE(SUM(dist), 0) AS BIGINT) AS sum_dist
    FROM pairs
    """,
)
def dedup_levenshtein_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance near-dup tier — the rung between
    [[dedup_prefix_exact]] (byte prefix) and [[dedup_ngram_jaccard]]
    (bag-of-shingles): candidates share a 24-char prefix AND are
    within 48 chars in length, then true Levenshtein distance decides
    (near-dup = distance ≤ 10% of the longer doc).  Catches the
    small-edit duplicates Jaccard under-scores (single-word
    substitutions in short docs) at a cost shingling can't beat for
    prefix-clustered corpora (crawl re-fetches, versioned pages).

    Scale: candidate generation is an EQUI self-join on the prefix —
    one hash shuffle, never all-pairs; blocks above 32 members are
    excluded (the [[dedup_ngram_jaccard]] frequency-cap discipline:
    a boilerplate prefix shared by 1e6 docs must not quadratically
    explode — those fall through to the shingle tiers).  The length
    pre-filter prunes before the O(len²) distance evaluates; both
    engines run their native levenshtein."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars", F.substring("text", 1, 24).alias("pfx")
    )
    ok = d.groupBy("pfx").count().filter(
        (F.col("count") >= 2) & (F.col("count") <= 32)
    ).select("pfx")
    dd = d.join(ok, "pfx")
    a = dd.select(
        F.col("pfx"),
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("t_a"),
        F.col("n_chars").alias("len_a"),
    )
    b = dd.select(
        F.col("pfx"),
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("t_b"),
        F.col("n_chars").alias("len_b"),
    )
    pairs = a.join(b, "pfx").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= 48)
    ).select(
        F.levenshtein("t_a", "t_b").alias("dist"),
        F.greatest("len_a", "len_b").alias("mx"),
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.coalesce(F.count_if(F.col("dist") * 10 <= F.col("mx")), F.lit(0))
        .cast("long")
        .alias("n_near"),
        F.coalesce(F.min("dist"), F.lit(-1)).cast("long").alias("min_dist"),
        F.coalesce(F.sum("dist"), F.lit(0)).cast("long").alias("sum_dist"),
    )


# ---------------------------------------------------------------------------
# Token concentration + cluster quality
# ---------------------------------------------------------------------------


@query(
    "token_gini_concentration",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ), freq AS (
      SELECT t, count(*) AS f FROM tok GROUP BY t
    ), by_f AS (
      SELECT f, count(*) AS m FROM freq GROUP BY f
    ), cum AS (
      SELECT f, m,
             COALESCE(SUM(m) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM by_f
    ), s AS (
      SELECT CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(f * m) AS BIGINT) AS b,
             CAST(SUM(f * m * (2 * c + m)) AS BIGINT) AS a
      FROM cum
    )
    SELECT n AS n_tokens, b AS total_occ,
           CAST(a - n * b AS BIGINT) AS gini_num,
           CAST((a - n * b) * 1000 // (n * b) AS BIGINT) AS gini_milli
    FROM s
    """,
)
def token_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of the token frequency distribution —
    the corpus-concentration number behind "does a handful of
    boilerplate tokens dominate the training mix" (companion to
    [[token_heavy_hitters]], which names the tokens; this scores the
    whole distribution).  Uses the rank identity G = Σ(2i−n−1)f_i /
    (n·Σf) with ranks ascending by frequency; tie runs collapse
    algebraically to m·(2C+m) per distinct frequency, so nothing ever
    ranks individual tokens.  gini_num ≥ 0 always (sorted ranks), so
    the milli division truncates identically everywhere.

    Scale (value-bucketed rank statistics, module docstring): shuffle
    1 counts tokens (map-side combined); shuffle 2 regroups BY
    FREQUENCY — the ordered prefix pass then touches only distinct
    frequency values (~1e4 even for web-scale corpora, Zipf
    guarantees the collapse).  Overflow bound: A ≤ 2·n·B needs
    n·Σf < 2^62 — at ~1e12 tokens move the two sums to DECIMAL(38,0);
    the graded SFs sit far inside BIGINT."""
    d = spread(load_table(spark, sf_dir, "documents")).select(
        F.explode(words("text")).alias("t")
    )
    freq = d.groupBy("t").agg(F.count("*").alias("f"))
    by_f = freq.groupBy("f").agg(F.count("*").alias("m"))
    c = F.coalesce(
        F.sum("m").over(
            Window.orderBy("f").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cum = by_f.withColumn("c", c)
    s = cum.agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.col("f") * F.col("m")).cast("long").alias("b"),
        F.sum(F.col("f") * F.col("m") * (2 * F.col("c") + F.col("m")))
        .cast("long")
        .alias("a"),
    )
    return s.select(
        F.col("n").alias("n_tokens"),
        F.col("b").alias("total_occ"),
        (F.col("a") - F.col("n") * F.col("b")).cast("long").alias("gini_num"),
        F.expr("(a - n * b) * 1000 div (n * b)").cast("long").alias("gini_milli"),
    )


@query(
    "embed_silhouette",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nsq
      FROM embeddings
    ), seeds AS (
      SELECT vec_id AS seed_id, embedding AS s_vec, nsq AS s_nsq
      FROM v WHERE vec_id < 8
    ), scored AS (
      SELECT v.vec_id, s.seed_id,
             list_sum(list_transform(range(1, 65),
                      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(s.s_vec[i] AS DOUBLE)))
               / (sqrt(v.nsq) * sqrt(s.s_nsq)) AS cos
      FROM v CROSS JOIN seeds s
    ), ranked AS (
      SELECT vec_id, seed_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, seed_id) AS rn
      FROM scored
    ), per_vec AS (
      SELECT vec_id,
             MAX(CASE WHEN rn = 1 THEN seed_id END) AS cluster_id,
             CAST(FLOOR((MAX(CASE WHEN rn = 1 THEN cos END)
                         - MAX(CASE WHEN rn = 2 THEN cos END)) * 1e6)
                  AS BIGINT) AS margin_micro
      FROM ranked WHERE rn <= 2 GROUP BY vec_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           count(*) AS n_members,
           CAST(SUM(margin_micro) AS BIGINT) AS sum_margin_micro,
           CAST(SUM(CASE WHEN margin_micro < 50000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ambiguous
    FROM per_vec GROUP BY cluster_id
    """,
)
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality margin for the [[dedup_semantic_cluster]]
    assignment: each vector's silhouette-style separation is the gap
    between its best and second-best seed cosine (micro fixed-point);
    per cluster we report membership, total margin mass, and how many
    members sit within 0.05 of a rival seed — the ambiguity count
    that tells a curator which semantic clusters are real before
    collapsing near-dups inside them.

    Scale: identical shape to the assignment pass — K=8 seeds
    broadcast, one narrow O(n·K·d) scoring pass, a per-vector window
    on vec_id (same shuffle as the final per-cluster agg would need
    anyway).  The margin is a single subtraction of two cosines each
    computed in index order on both engines ([[dedup_embed_cosine]]
    fold-order precedent), so the floor() quantization agrees
    bit-for-bit."""
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", norm_sq("embedding").alias("nsq")
    )
    seeds = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("s_vec"),
        F.col("nsq").alias("s_nsq"),
    )
    cos = dot("embedding", "s_vec") / (F.sqrt("nsq") * F.sqrt("s_nsq"))
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "seed_id", cos.alias("cos")
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("seed_id"))
    )
    per_vec = (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("seed_id"))).alias("cluster_id"),
            F.floor(
                (
                    F.max(F.when(F.col("rn") == 1, F.col("cos")))
                    - F.max(F.when(F.col("rn") == 2, F.col("cos")))
                )
                * 1e6
            )
            .cast("long")
            .alias("margin_micro"),
        )
    )
    return per_vec.groupBy(F.col("cluster_id").cast("long").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.sum("margin_micro").cast("long").alias("sum_margin_micro"),
        F.count_if(F.col("margin_micro") < 50000).cast("long").alias("n_ambiguous"),
    )


# ---------------------------------------------------------------------------
# Growth, integrity, graph mixing, experimentation
# ---------------------------------------------------------------------------


@query(
    "cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400) AS first_day
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT first_day AS day_idx, count(*) AS n_new
      FROM first_seen GROUP BY first_day
    )
    SELECT CAST(day_idx AS BIGINT) AS day_idx,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(SUM(n_new) OVER (ORDER BY day_idx
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct-user growth curve: per day, how many users
    were seen for the FIRST time and the running total of distinct
    users ever seen — the standard growth/adoption series.

    Scale: the naive formulation (COUNT(DISTINCT user) OVER a growing
    window) rescans every prior day per day — O(days · users).  This
    plan inverts it: first-seen day per user (one hash shuffle,
    map-side combined), re-agg by day, then a prefix sum over the
    CALENDAR frame — the [[quality_score_auc]] value-bucketed trick
    applied to time.  Cost is two bounded shuffles regardless of how
    many years the series spans."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", _epoch_s("ts").alias("ts_s")
    ).select("user_id", F.expr("ts_s div 86400").alias("day_idx"))
    first_seen = e.groupBy("user_id").agg(F.min("day_idx").alias("first_day"))
    daily = first_seen.groupBy(F.col("first_day").alias("day_idx")).agg(
        F.count("*").alias("n_new")
    )
    return daily.select(
        "day_idx",
        F.col("n_new").cast("long").alias("n_new"),
        F.sum("n_new")
        .over(Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_users"),
    )


@query(
    "split_leakage_check",
    oracle="""
    WITH tagged AS (
      SELECT md5(text) AS fp,
             CASE WHEN left(md5(CAST(doc_id AS VARCHAR)), 2) < 'f0'
                  THEN 1 ELSE 0 END AS is_train
      FROM documents
    ), per_fp AS (
      SELECT fp, SUM(is_train) AS n_train, SUM(1 - is_train) AS n_eval
      FROM tagged GROUP BY fp
    )
    SELECT CAST(SUM(n_train) AS BIGINT) AS n_train_docs,
           CAST(SUM(n_eval) AS BIGINT) AS n_eval_docs,
           CAST(SUM(CASE WHEN n_train > 0 AND n_eval > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_fp,
           CAST(SUM(CASE WHEN n_train > 0 THEN n_eval ELSE 0 END)
                AS BIGINT) AS n_leaked_eval_docs
    FROM per_fp
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval leakage audit for the [[split_train_eval]] split:
    count exact-content fingerprints (md5 of text) that appear on BOTH
    sides of the split, and the eval documents they compromise — the
    release gate run before any benchmark number is trusted.  The
    id-hash split guarantees a *document* never moves across splits;
    it cannot guarantee two *byte-identical documents* with different
    ids landed on the same side — that is precisely what this key
    measures ([[decontaminate_overlap]] covers the fuzzier n-gram
    variant against an external benchmark).

    Scale: one hash shuffle on the content fingerprint with map-side
    combine; both verdict columns fold in the same aggregate.  No
    join — the train/eval sides never materialize separately."""
    d = load_table(spark, sf_dir, "documents").select(
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
            < "f0",
            1,
        )
        .otherwise(0)
        .alias("is_train"),
    )
    per_fp = d.groupBy("fp").agg(
        F.sum("is_train").alias("n_train"),
        F.sum(F.lit(1) - F.col("is_train")).alias("n_eval"),
    )
    return per_fp.agg(
        F.sum("n_train").cast("long").alias("n_train_docs"),
        F.sum("n_eval").cast("long").alias("n_eval_docs"),
        F.count_if((F.col("n_train") > 0) & (F.col("n_eval") > 0))
        .cast("long")
        .alias("n_shared_fp"),
        F.sum(F.when(F.col("n_train") > 0, F.col("n_eval")).otherwise(0))
        .cast("long")
        .alias("n_leaked_eval_docs"),
    )


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH base AS (
      SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), e AS (
      SELECT u, v FROM base UNION SELECT v AS u, u AS v FROM base
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY u
    ), xy AS (
      SELECT du.c AS x, dv.c AS y
      FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM xy
    )
    SELECT m AS n_directed_edges,
           CAST(m * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST(m * sxx - sx * sx AS BIGINT) AS var_x_num,
           CAST(m * syy - sy * sy AS BIGINT) AS var_y_num,
           CAST(FLOOR(CAST(m * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                      / sqrt(CAST(m * syy - sy * sy AS DOUBLE))
                      * 1000000) AS BIGINT) AS assort_micro
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer↔supplier trade graph (the
    [[graph_pagerank]] edge set): the Pearson correlation of endpoint
    degrees over directed edges — negative means hubs attach to
    leaves (the expected shape for a bipartite trade graph), the
    structural diagnostic run before trusting degree-based sampling
    or partitioning strategies.  The three n-scaled moment numerators
    are exact BIGINT; the final correlation divides by two sqrt's —
    each a single IEEE op on identical integer-valued operands, then
    one floor quantization (micro).

    Scale: the graph is bipartite (customers even, suppliers odd), so
    the plan never materializes the symmetrized directed edge set the
    DEFINITION speaks of — it computes the undirected moments on the
    (cust, supp) pair set and symmetrizes ALGEBRAICALLY (m_dir =
    2·m_und, Σx_dir = Σ_und(x+y), Σxy_dir = 2·Σ_und x·y, Σx²_dir =
    Σ_und(x²+y²)): half the shuffle volume, one distinct instead of
    two, and the per-side degree groupBys reuse the pair set's
    partitioning.  One global aggregate ends it.  Never materializes
    anything bigger than |E_und|.  Overflow note: m·Σx² needs
    |E|·deg_max² < 2^63 — beyond ~1e9 edges promote the moment sums
    to DECIMAL(38,0)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # MATERIALIZE the pair set (r15, guide §1.2/§5): it feeds both
    # degree groupBys and the moment join — three references in one
    # plan each re-ran the orders⋈lineitem derivation.  Post-distinct
    # (shuffled) blocks; the single output action materializes once.
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg_u = base.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("x"))
    deg_v = base.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("y"))
    xy = base.join(deg_u, "u").join(deg_v, "v").select("x", "y")
    s = xy.agg(
        (F.count("*") * 2).cast("long").alias("m"),
        F.sum(F.col("x") + F.col("y")).cast("long").alias("sx"),
        F.sum(F.col("x") + F.col("y")).cast("long").alias("sy"),
        (F.sum(F.col("x") * F.col("y")) * 2).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x") + F.col("y") * F.col("y"))
        .cast("long")
        .alias("sxx"),
        F.sum(F.col("x") * F.col("x") + F.col("y") * F.col("y"))
        .cast("long")
        .alias("syy"),
    )
    return s.select(
        F.col("m").alias("n_directed_edges"),
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("cov_num"),
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("var_x_num"),
        (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("var_y_num"),
        F.floor(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            )
            / F.sqrt(
                (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("assort_micro"),
    )


@query(
    "event_ab_test_lift",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b,
           CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) * 1000
                // SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS rate_a_milli,
           CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) * 1000
                // SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rate_b_milli,
           CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)
                  * SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                - SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)
                  * SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS lift_num
    FROM per_user
    """,
)
def event_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B conversion lift with exact arithmetic: users hash into two
    arms (parity of user_id — the deterministic stand-in for an
    assignment column), conversion is "ever purchased", and the lift
    numerator conv_b·n_a − conv_a·n_b carries the exact sign and
    cross-multiplied magnitude of rate_b − rate_a without a single
    division — the experiment readout that cannot disagree between
    engines.  Per-arm exact-milli rates ride along for display.

    Scale: one shuffle to collapse events per user (map-side
    combined max), one single-row aggregate.  The same shape holds
    for billions of users; nothing is per-event after the first
    combine."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p")
    )
    per_user = e.groupBy("user_id").agg(F.max("p").alias("conv")).select(
        (F.col("user_id") % 2).alias("arm"), "conv"
    )
    return per_user.agg(
        F.count_if(F.col("arm") == 0).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.count_if(F.col("arm") == 1).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    ).select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.expr("conv_a * 1000 div n_a").cast("long").alias("rate_a_milli"),
        F.expr("conv_b * 1000 div n_b").cast("long").alias("rate_b_milli"),
        F.expr("conv_b * n_a - conv_a * n_b").cast("long").alias("lift_num"),
    )


# ---------------------------------------------------------------------------
# Warehouse integrity + market structure
# ---------------------------------------------------------------------------


@query(
    "fk_violation_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS edge,
           (SELECT count(*) FROM lineitem) AS n_child,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r
                              WHERE r.r_regionkey = n.n_regionkey))
    """,
)
def fk_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over every FK edge of the star
    schema in ONE result: child row count and orphan count per edge —
    the nightly data-quality audit a warehouse runs before marking a
    snapshot consumable ([[constraint_suite]] covers domain/null
    rules; this covers the JOIN-ABILITY rules those can't see).

    Scale: each edge is ONE pass over the child — the FK column
    (pruned scan) pre-aggregates to (key, count) with map-side
    combine, then a left-outer join against the deduplicated parent
    key set folds total and orphan counts into one aggregate
    (Σn, Σn-where-unmatched).  After the pre-agg everything
    downstream is KEY-SET-sized, not fact-sized — at 100 TB the join
    moves distinct FK values, never rows; the dim-edge parents
    broadcast.  No child is scanned twice and no scalar crossJoin is
    needed (the three local formulations — two-pass anti-join,
    row-level outer join, and this — time identically at test SFs;
    this one is kept because its shuffle volume is the smallest at
    scale).  The 7 single-row results union into one frame."""

    def edge(child, ckey, parent, pkey, label):
        c = (
            load_table(spark, sf_dir, child)
            .groupBy(F.col(ckey))
            .agg(F.count("*").alias("n"))
        )
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pkey).alias(ckey))
            .distinct()
            .withColumn("pk_hit", F.lit(1))
        )
        return c.join(p, ckey, "left_outer").agg(
            F.lit(label).alias("edge"),
            F.sum("n").cast("long").alias("n_child"),
            F.coalesce(
                F.sum(F.when(F.col("pk_hit").isNull(), F.col("n"))), F.lit(0)
            )
            .cast("long")
            .alias("n_orphans"),
        )

    edges = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
        ("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
        ("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"),
        ("customer", "c_nationkey", "nation", "n_nationkey", "customer.c_nationkey->nation"),
        ("supplier", "s_nationkey", "nation", "n_nationkey", "supplier.s_nationkey->nation"),
        ("nation", "n_regionkey", "region", "r_regionkey", "nation.n_regionkey->region"),
    ]
    out = None
    for child, ckey, parent, pkey, label in edges:
        df = edge(child, ckey, parent, pkey, label)
        out = df if out is None else out.unionAll(df)
    return out


@query(
    "supplier_hhi_by_nation",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nationkey, l.l_suppkey,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) // 100000 AS q
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ), agg AS (
      SELECT nationkey,
             count(*) AS n_suppliers,
             CAST(SUM(q) AS BIGINT) AS total_q,
             CAST(SUM(q * q) AS BIGINT) AS sum_q_sq
      FROM rev GROUP BY nationkey
    )
    SELECT n.n_name AS nation,
           n_suppliers,
           total_q,
           CAST(sum_q_sq * 1000000 // (total_q * total_q) AS BIGINT) AS hhi_ppm
    FROM agg JOIN nation n ON n.n_nationkey = agg.nationkey
    WHERE total_q > 0
    """,
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index of supplier
    revenue within each nation: HHI = Σ shareᵢ², emitted as exact ppm
    — the antitrust-style diagnostic that tells a planner whether a
    nation's supply is monopolized (ppm → 1e6) or fragmented (→
    1e6/n).  Revenue quantizes cents → 1e3-dollar units BEFORE
    squaring (exact decimal-cent sums first), keeping every square
    inside BIGINT at any realistic scale while both engines quantize
    identically; the share division cancels into the single ppm
    integer division at the end.

    Scale: revenue per (nation, supplier) is one hash shuffle with
    map-side combine after a broadcast supplier join; the HHI re-agg
    shuffles the (nation, supplier) frame — dim-sized, not fact-sized.
    Overflow: Σq² ≤ n_suppliers · (total_rev/1e3)² — at 100 TB
    (Σrev ~ 1e13 cents → q ~ 1e8) promote q to DECIMAL(38,0) sums."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) div 100000"
            ).alias("q")
        )
    )
    agg = rev.groupBy("nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("q").cast("long").alias("total_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sum_q_sq"),
    )
    return (
        agg.filter(F.col("total_q") > 0)
        .join(F.broadcast(n), agg.nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            "total_q",
            F.expr("sum_q_sq * 1000000 div (total_q * total_q)")
            .cast("long")
            .alias("hhi_ppm"),
        )
    )


@query(
    "events_control_chart",
    oracle="""
    WITH daily AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
             count(*) AS n_d,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e_d
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_d) AS BIGINT) AS big_n, CAST(SUM(e_d) AS BIGINT) AS big_e
      FROM daily
    )
    SELECT CAST(d.day_idx AS BIGINT) AS day_idx,
           CAST(d.n_d AS BIGINT) AS n_d,
           CAST(d.e_d AS BIGINT) AS e_d,
           (d.e_d * t.big_n - d.n_d * t.big_e)
             * (d.e_d * t.big_n - d.n_d * t.big_e)
             > 9 * d.n_d * t.big_e * (t.big_n - t.big_e) AS out_of_control
    FROM daily d CROSS JOIN tot t
    """,
)
def events_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart over the daily error proportion — statistical
    process control for an event stream: a day is out-of-control when
    its error rate sits more than 3σ from the corpus rate.  The σ
    bound |p_d − p̄| > 3·√(p̄(1−p̄)/n_d) cross-multiplies to the pure
    integer inequality (e_d·N − n_d·E)² > 9·n_d·E·(N−E) — zero
    floats, zero square roots, so the flag bit is engine-exact
    (companion to [[ts_cusum_changepoint]]: CUSUM finds sustained
    drift, the control chart flags single-day excursions).

    Scale: one hash shuffle onto the daily frame, one single-row
    total broadcast (the sanctioned scalar BNLJ), one scan-speed
    comparison per day.  Overflow: (e_d·N)² needs e_d·N < 3e9·3e9 —
    beyond ~1e9 daily errors promote the two products to
    DECIMAL(38,0)."""
    e = load_table(spark, sf_dir, "events").select(
        _epoch_s("ts").alias("ts_s"), "event_type"
    ).select(F.expr("ts_s div 86400").alias("day_idx"), "event_type")
    daily = e.groupBy("day_idx").agg(
        F.count("*").alias("n_d"),
        F.count_if(F.col("event_type") == "error").alias("e_d"),
    )
    tot = daily.agg(
        F.sum("n_d").cast("long").alias("big_n"),
        F.sum("e_d").cast("long").alias("big_e"),
    )
    dev = F.col("e_d") * F.col("big_n") - F.col("n_d") * F.col("big_e")
    return daily.crossJoin(F.broadcast(tot)).select(
        F.col("day_idx").cast("long").alias("day_idx"),
        F.col("n_d").cast("long").alias("n_d"),
        F.col("e_d").cast("long").alias("e_d"),
        (dev * dev > 9 * F.col("n_d") * F.col("big_e") * (F.col("big_n") - F.col("big_e")))
        .alias("out_of_control"),
    )


@query(
    "events_fano_factor",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day_idx,
             count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS total,
           CAST(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS BIGINT) AS var_num,
           CAST((COUNT(*) * SUM(c * c) - SUM(c) * SUM(c)) * 1000
                // (COUNT(*) * SUM(c)) AS BIGINT) AS fano_milli
    FROM daily GROUP BY event_type
    """,
)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean dispersion) of daily counts per
    event type — the burstiness index: ≈1000 milli for a Poisson-like
    stream, ≫1000 for bursty arrivals, <1000 for regular ones.  The
    D-scaled identity Var·D² = D·Σc² − (Σc)² keeps the numerator an
    exact BIGINT; fano = Var/mean then cross-multiplies to
    var_num/(D·total), one integer milli division.  Completes the
    dispersion family: [[events_control_chart]] flags single-day
    excursions, [[ts_cusum_changepoint]] sustained drift, this scores
    the stream's overall regularity.

    Scale: one hash shuffle onto the (type × day) frame with map-side
    combine, then a per-type single-row aggregate — calendar-sized
    work after the first combine."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", _epoch_s("ts").alias("ts_s")
    ).select("event_type", F.expr("ts_s div 86400").alias("day_idx"))
    daily = e.groupBy("event_type", "day_idx").agg(F.count("*").alias("c"))
    return daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("total"),
        (F.count("*") * F.sum(F.col("c") * F.col("c")) - F.sum("c") * F.sum("c"))
        .cast("long")
        .alias("var_num"),
        F.expr(
            "(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c)) * 1000 div (COUNT(*) * SUM(c))"
        )
        .cast("long")
        .alias("fano_milli"),
    )


# ---------------------------------------------------------------------------
# Round-7c: skyline, interval union, triangles, content checksum
# ---------------------------------------------------------------------------


@query(
    "skyline_pareto_frontier",
    oracle="""
    WITH p AS (
      SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents
      FROM part
    )
    SELECT x.p_partkey, x.size, x.price_cents
    FROM p x
    WHERE NOT EXISTS (
      SELECT 1 FROM p y
      WHERE y.size >= x.size AND y.price_cents <= x.price_cents
        AND (y.size > x.size OR y.price_cents < x.price_cents)
    )
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts — every part not
    dominated by another that is at least as big AND at least as
    cheap (strictly better in one dimension): the classic "best
    price/size trade-offs" query that product search and procurement
    run.  Prices quantize to exact cents so dominance ties are
    engine-identical.

    Scale: the textbook skyline is an O(n²) dominance self-join —
    that lives ONLY in the DuckDB oracle.  The engine exploits the
    discretized dimension: one map-side-combined groupBy collapses
    the corpus to min-price-per-size (domain-sized, ~50 rows at any
    corpus scale), a cummin window over that tiny frame derives
    best-at-least / best-strictly-larger thresholds, and one
    broadcast join + scan-speed filter marks frontier rows.  100 TB
    of parts costs one aggregate pass + one broadcast probe; nothing
    n² ever runs.  Frontier membership per row:
    price == min(price | size' >= size) AND (no larger size OR
    min(price | size' > size) > price)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.expr("CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "price_cents"
        ),
    )
    per_size = p.groupBy("size").agg(F.min("price_cents").alias("msize"))
    # domain-sized frame (~50 rows): the global window is bounded by
    # the size domain, never the corpus — same sanctioned shape as
    # the value-bucketed rank statistics in this module's docstring.
    w = Window.orderBy(F.col("size").desc())
    thresholds = per_size.select(
        "size",
        F.min("msize")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("best_geq"),
        F.min("msize")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("best_gt"),
    )
    return (
        p.join(F.broadcast(thresholds), "size")
        .filter(
            (F.col("price_cents") == F.col("best_geq"))
            & (F.col("best_gt").isNull() | (F.col("best_gt") > F.col("price_cents")))
        )
        .select("p_partkey", "size", "price_cents")
    )


@query(
    "interval_coverage_union",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CAST(FLOOR(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events
    ), m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN pmax IS NULL OR pmax < s THEN e - s
                         WHEN pmax >= e THEN 0
                         ELSE e - pmax END) AS BIGINT) AS covered_sec,
           CAST(SUM(CASE WHEN pmax IS NULL OR pmax < s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_islands
    FROM m GROUP BY user_id
    """,
)
def interval_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage per user — each event opens a 5-minute
    activity interval; overlapping intervals union into islands and
    the key reports total covered seconds plus the island count (the
    gaps-and-islands union, the complement of [[ts_gap_detect]]'s gap
    scan and the interval algebra behind billable-time, uptime and
    co-viewing metrics).  The sweep identity: an interval contributes
    e − max(s, running-max-of-previous-ends), clamped at 0 — summing
    those contributions IS the measure of the union, no materialized
    merge needed.

    Scale: one hash shuffle onto user_id, then a sort WITHIN each
    user's partition feeds the running-max lag window — per-user
    sequential work, all users in parallel, the same shape as
    [[sessionize_lag]].  No self-join on overlap (the O(n²) interval
    intersection the naive formulation would do) and no global sort;
    (ts, event_id) ordering makes tie rows deterministic in both
    engines."""
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _epoch_s("ts").alias("s"),
        (_epoch_s("ts") + F.lit(300)).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("pmax", F.max("e").over(w))
    new_island = F.col("pmax").isNull() | (F.col("pmax") < F.col("s"))
    contrib = (
        F.when(new_island, F.col("e") - F.col("s"))
        .when(F.col("pmax") >= F.col("e"), F.lit(0))
        .otherwise(F.col("e") - F.col("pmax"))
    )
    return m.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(contrib).cast("long").alias("covered_sec"),
        F.sum(new_island.cast("long")).cast("long").alias("n_islands"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), pairs AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    ), deg AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS k FROM pairs UNION ALL SELECT v AS k FROM pairs
      ) GROUP BY k
    ), tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           (SELECT CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0
                   THEN CAST(3 * (SELECT t FROM tri) * 1000000
                        // (SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT)
                   ELSE 0 END) AS gcc_ppm
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts are adjacent when some order contains
    both) — the graph statistic behind community detection, spam/bot
    detection and recommendation diversity, and a deliberately
    UNIPARTITE companion to the bipartite (triangle-free)
    [[graph_pagerank]] trade graph.  gcc = 3·triangles / wedges,
    emitted as exact ppm.

    Scale: the engine counts with the degree-ordered orientation
    (Schank–Wagner / Latapy): rank nodes by (degree, id), orient
    every edge low→high rank — orientation bounds every out-degree
    by O(√|E|) regardless of hubs, so no step below can blow up on a
    hot node (the plain e1⋈e2 wedge join, which the DuckDB oracle
    runs, would square the hottest hub's degree).  Triangles close
    via COMPACT ADJACENCY instead of wedge materialization: group the
    oriented edges into per-node neighbor arrays (each ≤O(√|E|) long),
    join every oriented edge to both endpoints' arrays, and sum
    array_intersect sizes — the Σ outdeg² wedge volume moves through
    the shuffle packed in arrays and is intersected vectorized
    JVM-side, never as 41M individual wedge rows (r9 A/B at sf0.1:
    6.5 s → 3.9 s vs the materialized-wedge + closing-join form).
    Everything is distinct/groupBy/equi-join: edge-sized shuffles, no
    driver collect, no iteration."""
    # Edge build via per-order sorted part sets (r15, guide §2.3/§2.4;
    # the market_basket explode pattern): groupBy(order)+collect_set
    # is ONE map-side-combined shuffle and the ordered-pair explode is
    # narrow — the previous distinct + self-join + distinct paid two
    # more |E|-sized exchanges for the same u<v pair set.  Sets stay
    # bounded by lines-per-order (≤7).
    #
    # MATERIALIZE the edge list and the degree table (r15, guide
    # §1.2/§5): the final plan references `pairs` four times (degree
    # build, orientation, edge count) and `deg` three times (the two
    # orientation sides, the wedge summary) — without materialization
    # each reference re-runs the whole edge build, the measured bulk
    # of this key (plan audit: 20 Exchanges before).  Both frames are
    # post-shuffle (distinct / groupBy), so the lazily-checkpointed
    # blocks are the reliable kind and the single output action
    # materializes each exactly once, in-job.
    pairs = (
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
    deg = (
        pairs.select(F.col("u").alias("k"))
        .unionAll(pairs.select(F.col("v").alias("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=False)
    )
    # Orient each edge from the (degree, id)-smaller endpoint to the
    # larger: out-degrees are then O(sqrt(|E|)) (Schank-Wagner), so
    # the wedge self-join below cannot blow up on hub nodes.
    du = deg.select(F.col("k").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("k").alias("v"), F.col("d").alias("dv"))
    oriented = (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("u"),
            )
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.col("v"),
            )
            .otherwise(F.col("u"))
            .alias("dst"),
        )
    )
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    tri = (
        oriented.select(F.col("src").alias("cu"), F.col("dst").alias("cv"))
        .join(adj.select(F.col("src").alias("cu"), F.col("nbrs").alias("nu")), "cu")
        .join(adj.select(F.col("src").alias("cv"), F.col("nbrs").alias("nv")), "cv")
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
        # coalesce: SUM over an empty frame is NULL, but a triangle-free
        # graph (stars, matchings) must report 0 like the oracle does.
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("t"))
    )
    summary = (
        deg.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(pairs.agg(F.count("*").cast("long").alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return summary.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").alias("n_triangles"),
        F.when(
            F.col("n_wedges") > 0,
            F.expr("3 * t * 1000000 div n_wedges"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("gcc_ppm"),
    )


@query(
    "table_checksum_groups",
    oracle="""
    WITH canon AS (
      SELECT l_returnflag, l_linestatus,
             CAST('0x' || substr(md5(concat_ws('|',
               l_orderkey, l_linenumber,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT),
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT),
               l_returnflag, l_linestatus,
               CAST(FLOOR(epoch(l_shipdate)) AS BIGINT))), 1, 12)
             AS BIGINT) AS fp
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(fp) AS BIGINT) AS xor_sig,
           CAST(SUM(fp % 1000003) AS BIGINT) AS sum_sig
    FROM canon GROUP BY l_returnflag, l_linestatus
    """,
)
def table_checksum_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of lineitem per
    (returnflag, linestatus) group — the cross-system data-validation
    primitive: after a migration/backfill, two engines (here Spark
    and DuckDB, by construction of the oracle) agree the data is
    byte-identical iff every group's (n_rows, xor_sig, sum_sig)
    triple matches, with no sorting and no row-by-row diff.  Each row
    canonicalizes to a '|'-joined string of engine-exact fields
    (BIGINTs, cents-quantized money, epoch dates), fingerprints via
    the first 48 bits of its md5, and folds with XOR (commutative,
    associative → partition-order-free).  XOR alone is blind to
    duplicated-row pairs, so the count and a mod-prime sum ride
    along; the three together make silent corruption vanishingly
    unlikely.  Companion to [[fk_violation_audit]] (join-ability) and
    [[constraint_suite]] (domain rules): this one certifies CONTENT.

    Scale: pure map-side work per row, then a combinable aggregate
    onto a handful of groups — the cheapest possible full-table scan
    shape; at 100 TB the checksum costs exactly one read pass and a
    6-row shuffle.  48-bit fingerprints keep XOR inside BIGINT;
    sum_sig < 1e6 · n_rows stays in range to ~9e12 rows."""
    canon = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.expr(
            "CAST(CONV(SUBSTRING(md5(CAST(concat_ws('|', "
            "l_orderkey, l_linenumber, "
            "CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT), "
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT), "
            "l_returnflag, l_linestatus, "
            "CAST(FLOOR(CAST(CAST(l_shipdate AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
            ") AS BINARY)), 1, 12), 16, 10) AS BIGINT)"
        ).alias("fp"),
    )
    return canon.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("bit_xor(fp)").cast("long").alias("xor_sig"),
        F.sum(F.col("fp") % F.lit(1000003)).cast("long").alias("sum_sig"),
    )


@query(
    "money_proration_lrm",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p
      FROM lineitem
    ), o AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               * 2 // 100 AS pool
      FROM orders
    ), j AS (
      SELECT li.*, o.pool,
             SUM(p) OVER (PARTITION BY l_orderkey) AS s
      FROM li JOIN o ON o.o_orderkey = li.l_orderkey
    ), b AS (
      SELECT *, pool * p // s AS base, pool * p % s AS rem FROM j
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
               ORDER BY rem DESC, l_linenumber, l_partkey, l_suppkey, p) AS rk,
             pool - SUM(base) OVER (PARTITION BY l_orderkey) AS leftover
      FROM b
    )
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_partkey, l_suppkey,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_cents
    FROM r
    """,
)
def money_proration_lrm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: distribute a 2%-of-order rebate
    pool (floored cents) across the order's lineitems proportional to
    their price, so that per-line allocations are whole cents AND sum
    EXACTLY to the pool — the financial-allocation primitive (invoice
    discounts, tax apportionment, revenue splits) where naive
    rounding leaks cents.  Hamilton's method: floor every
    proportional share, then hand the leftover cents to the largest
    remainders, ties broken by the (linenumber, partkey, suppkey,
    price) tuple — price included because the fixture holds duplicate
    natural-key triples within an order, so the key alone is not a
    total order — making the split engine-deterministic.

    Scale: one equi-join (orders side is key+pool only) and three
    window passes ALL partitioned by l_orderkey with one ordering —
    Catalyst plans a single hash exchange + per-order sort; no global
    sort, no iteration, overflow bounded by per-ORDER magnitudes
    (pool·p < 1e13) which do not grow with corpus size."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "p"
        ),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 2 div 100"
        ).alias("pool"),
    )
    worder = Window.partitionBy("l_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "s", F.sum("p").over(worder)
    )
    b = j.withColumn("base", F.expr("pool * p div s")).withColumn(
        "rem", F.expr("pool * p % s")
    )
    r = b.withColumn(
        "rk",
        F.row_number().over(
            worder.orderBy(
                F.col("rem").desc(), "l_linenumber", "l_partkey", "l_suppkey", "p"
            )
        ),
    ).withColumn("leftover", F.col("pool") - F.sum("base").over(worder))
    return r.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_partkey",
        "l_suppkey",
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long"))
        .cast("long")
        .alias("alloc_cents"),
    )


@query(
    "sequence_gap_audit",
    oracle="""
    WITH k AS (
      SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderstatus = 'O'
    ), l AS (
      SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM k
    )
    SELECT pk + 1 AS gap_start, k - 1 AS gap_end, k - pk - 1 AS gap_len
    FROM l WHERE pk IS NOT NULL AND k - pk > 1
    """,
)
def sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-ID ranges in a key sequence (here: orderkeys of
    open-status orders) as [gap_start, gap_end] islands — the
    completeness audit that catches dropped partitions, lost batches
    and sequence-generator skips, complementing
    [[fk_violation_audit]] (orphans) and [[table_checksum_groups]]
    (content): this one certifies the KEY SPACE has no holes.

    Scale: the oracle's single global lag() would single-task at
    corpus scale, so the engine two-levels it: keys bucket by
    k div 1024 → intra-bucket gaps come from a lag window PARTITIONED
    by bucket (all buckets in parallel), inter-bucket gaps from a
    lag over the bucket min/max summary — a frame 1024× smaller than
    the key set (recurse the same trick if even that is too wide; at
    1e12 keys the summary is 1e9 rows, one more level makes it 1e6).
    Exactly one shuffle of the distinct-key set plus one domain-sized
    pass; results are identical to the flat formulation because a
    gap either lies inside one bucket or spans consecutive non-empty
    bucket summaries."""
    k = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("b", F.expr("k div 1024"))
    )
    intra = (
        k.withColumn(
            "pk", F.lag("k").over(Window.partitionBy("b").orderBy("k"))
        )
        .filter(F.col("pk").isNotNull() & (F.col("k") - F.col("pk") > 1))
        .select(
            (F.col("pk") + 1).alias("gap_start"),
            (F.col("k") - 1).alias("gap_end"),
            (F.col("k") - F.col("pk") - 1).alias("gap_len"),
        )
    )
    summary = k.groupBy("b").agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
    # bucket-summary frame: 1024x smaller than the key set — the
    # sanctioned domain-sized global window (module docstring).
    inter = (
        summary.withColumn("phi", F.lag("hi").over(Window.orderBy("b")))
        .filter(F.col("phi").isNotNull() & (F.col("lo") - F.col("phi") > 1))
        .select(
            (F.col("phi") + 1).alias("gap_start"),
            (F.col("lo") - 1).alias("gap_end"),
            (F.col("lo") - F.col("phi") - 1).alias("gap_len"),
        )
    )
    return intra.unionAll(inter)


@query(
    "window_reset_running",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
      FROM events
    ), seg AS (
      SELECT *,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, event_id
                     ROWS UNBOUNDED PRECEDING) AS seg_idx
      FROM e
    )
    SELECT event_id, user_id, CAST(seg_idx AS BIGINT) AS seg_idx,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id, seg_idx
                ORDER BY s, event_id) AS BIGINT) AS run_pos,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id, seg_idx ORDER BY s, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS purchases_since_reset
    FROM seg
    """,
)
def window_reset_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates that RESET at a marker event — every
    'error' starts a new segment per user, and within each segment
    the key emits the running position and running purchase count:
    the segmented-window ("counter reset") pattern behind
    streaks-since-failure, spend-since-login and attempts-since-
    CAPTCHA metrics, which plain frames cannot express.  The
    two-level trick: a running SUM of reset markers IS the segment
    id; any running aggregate then re-windows on (user, segment).

    Scale: both window layers share the user_id hash partitioning
    and the (ts, event_id) sort order, so Catalyst plans ONE
    exchange + ONE sort and evaluates the second window on the
    already-sorted runs ((user, seg_idx) is a refinement of the
    first ordering).  Per-user sequential, all users parallel — the
    same shape as [[sessionize_lag]] and [[interval_coverage_union]];
    the deterministic (ts, event_id) tiebreak makes ordinals
    engine-exact."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", _epoch_s("ts").alias("s")
    )
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = e.withColumn(
        "seg_idx",
        F.sum((F.col("event_type") == "error").cast("long")).over(w1),
    )
    w2 = Window.partitionBy("user_id", "seg_idx").orderBy("s", "event_id")
    return seg.select(
        "event_id",
        "user_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.row_number().over(w2).cast("long").alias("run_pos"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .over(w2.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("purchases_since_reset"),
    )
