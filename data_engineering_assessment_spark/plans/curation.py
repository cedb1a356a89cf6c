"""Corpus-curation plans added in round 4.

Operators a training-data team runs between "raw corpus" and
"training shards": fixed-size uniform document sampling, group-aware
(leakage-free) train/eval splitting, equi-depth histogram profiling,
calendar-spine zero-fill for time series, canonical-representative
selection inside duplicate clusters, and a graded end-to-end proof
that the streaming watermark drops late data exactly as specified.

Same portability contract as the rest of the registry (see
``plans/registry.py`` docstring): graded outputs are
BIGINT/INT/STRING/BOOL only, every computed column is aliased
identically in the Spark builder and the DuckDB oracle, and every
order-dependent step carries a unique tie-break key.  Like the
reference's generated-SQL philosophy (``/root/reference/02.py:17-103``)
each plan is declared with native expressions and handed wholesale to
Catalyst.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import ensure_deterministic_session, scoped_conf
from ..sources.layout import corpus_tag, events_tag, scratch_path
from ..sources.tables import load_table
from .registry import query


RESERVOIR_K = 200


@query(
    "sample_reservoir",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
    ORDER BY h, doc_id
    LIMIT {RESERVOIR_K}
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample: the K smallest md5(doc_id) values.

    This is the deterministic, distributed equivalent of reservoir
    sampling — every doc gets an i.i.d.-uniform priority (its key
    hash) and the global K smallest win, so the sample is an exact
    uniform K-subset regardless of partitioning, partition count, or
    arrival order (re-running on re-sharded data returns the same
    docs).  Unlike Bernoulli sampling (``sample_hash``) the output
    size is exactly K at any corpus scale.

    Scale: Spark executes orderBy().limit(K) as TakeOrderedAndProject
    — each partition keeps a local top-K heap and the driver merges
    P·K rows; no global sort, no shuffle of the corpus.  At 100 TB
    this moves ~P·K tiny rows to the driver, nothing else."""
    ensure_deterministic_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        .orderBy("h", "doc_id")
        .limit(RESERVOIR_K)
    )


@query(
    "split_group_holdout",
    oracle="""
    WITH tagged AS (
      SELECT source, n_chars,
             CASE WHEN substr(md5(source), 1, 1) IN ('0', '1')
                  THEN 'eval' ELSE 'train' END AS split
      FROM documents
    )
    SELECT split,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY split
    """,
)
def split_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/eval split: every document from the same
    source lands in the same split (hash the GROUP key, not the row
    key), so near-duplicate documents within one crawl domain can
    never leak from train into eval.  ~2/16 of md5 first-nibble
    values → eval ≈ 12.5% of sources.

    Scale: the split tag is a pure projection (no shuffle); the audit
    aggregation is one hash-shuffle over 2 groups.  The same
    predicate applied at write time partitions a 100 TB corpus
    without moving data between splits ever after — stable as the
    corpus grows because membership depends only on the source name."""
    ensure_deterministic_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        "n_chars",
        F.when(F.substring(F.md5("source"), 1, 1).isin("0", "1"), "eval")
        .otherwise("train")
        .alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH priced AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents
      FROM orders
    ), binned AS (
      SELECT price_cents,
             NTILE(8) OVER (ORDER BY price_cents, o_orderkey) AS bin
      FROM priced
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(price_cents) AS lo_cents,
           MAX(price_cents) AS hi_cents
    FROM binned GROUP BY bin
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of order totals: NTILE(8)
    over the exact global order assigns each row to a bin of equal
    cardinality; per-bin count + [lo, hi] bounds are the quantile
    boundaries a cost-based optimizer or a data-skew report wants.
    Complements the fixed-width (``agg_histogram``) and log2
    (``agg_histogram_log2``) variants.  Ties are broken by orderkey
    so bin assignment is deterministic in both engines.

    Scale: a global NTILE needs a total order, but never a
    single-partition window (round 15): the range-partitioned
    global-rank operator (operators/rankstats.py — sampled range
    bounds, per-partition row numbers, broadcast prefix-sum offsets)
    assigns the exact global rank in parallel, and NTILE(8) is then
    pure integer arithmetic on (rank, N) with SQL NTILE semantics —
    bit-identical to the window formulation at any scale.  The
    approx_percentile sketch (``agg_approx_percentile``) remains the
    cheap alternative; this key is the exact reference the sketch is
    validated against."""
    ensure_deterministic_session(spark)
    from ..operators.rankstats import global_order_stats, ntile_from_rank

    orders = load_table(spark, sf_dir, "orders")
    priced = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    ranked, totals = global_order_stats(
        priced, [F.asc("price_cents"), F.asc("o_orderkey")]
    )
    binned = ranked.select(
        "price_cents",
        ntile_from_rank(8, totals["rows"]).cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("price_cents").alias("lo_cents"),
        F.max("price_cents").alias("hi_cents"),
    )


@query(
    "ts_spine_zero_fill",
    oracle="""
    WITH e AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events
    ), bounds AS (
      SELECT MIN(t) - MIN(t) % 86400 AS lo, MAX(t) - MAX(t) % 86400 AS hi FROM e
    ), spine AS (
      SELECT UNNEST(generate_series(lo, hi, 86400)) AS day_s FROM bounds
    ), daily AS (
      SELECT t - t % 86400 AS day_s, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY 1
    )
    SELECT spine.day_s AS day_s, COALESCE(daily.n, 0) AS n_events
    FROM spine LEFT JOIN daily ON spine.day_s = daily.day_s
    """,
)
def ts_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts over a complete calendar spine — days with
    zero events appear as explicit 0 rows (a bare GROUP BY silently
    omits them, which breaks downstream charting/anomaly jobs).  The
    spine is generated from the data's own [min, max] day range via
    ``sequence`` + ``explode``; counts left-join onto it.

    Scale: the spine is tiny (1 row per day — a century is ~36.5k
    rows) so Spark broadcasts it; the daily aggregate is one
    hash-shuffle over #days groups.  The explode happens on a
    single-row aggregate, not per event row."""
    ensure_deterministic_session(spark)
    events = load_table(spark, sf_dir, "events")
    e = events.select(F.col("ts").cast("timestamp").cast("long").alias("t"))
    day = (F.col("t") - F.col("t") % 86400).alias("day_s")
    daily = e.select(day).groupBy("day_s").agg(F.count(F.lit(1)).cast("long").alias("n"))
    spine = (
        e.agg(
            (F.min("t") - F.min("t") % 86400).alias("lo"),
            (F.max("t") - F.max("t") % 86400).alias("hi"),
        )
        .select(F.explode(F.sequence("lo", "hi", F.lit(86400))).alias("day_s"))
    )
    return spine.join(daily, "day_s", "left").select(
        "day_s", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@query(
    "dedup_cluster_rep",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars, md5(text) AS fingerprint FROM documents
    ), ranked AS (
      SELECT fingerprint, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY fingerprint ORDER BY n_chars DESC, doc_id ASC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS csize
      FROM fp
    )
    SELECT fingerprint,
           doc_id AS rep_doc_id,
           CAST(csize AS BIGINT) AS cluster_size,
           CAST(csize - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1 AND csize >= 2
    """,
)
def dedup_cluster_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection: inside each exact-duplicate
    cluster (md5(text) fingerprint) keep the "best" document — longest
    first, doc_id as the deterministic tie-break — and report how many
    copies were dropped.  This is the step after duplicate *detection*
    (``dedup_exact`` and friends find clusters; something must decide
    which copy survives into the training corpus).

    Scale: one hash-shuffle on the fingerprint; the window runs inside
    each fingerprint partition (clusters are small — skew would mean a
    pathological mega-duplicate, which the n_dropped output surfaces).
    Quality-ranked keep-best generalizes by swapping the ORDER BY for
    a model score column."""
    ensure_deterministic_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "n_chars", F.md5(F.col("text").cast("binary")).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint")
    ranked = fp.select(
        "fingerprint",
        "doc_id",
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("csize"),
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("csize") >= 2))
        .select(
            "fingerprint",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("csize").cast("long").alias("cluster_size"),
            (F.col("csize") - 1).cast("long").alias("n_dropped"),
        )
    )


@query(
    "stream_late_watermark",
    oracle="""
    WITH e AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS t, event_type FROM events
    ), b AS (
      SELECT MIN(t) - MIN(t) % 86400 AS day0, MAX(t) AS mx FROM e
    )
    SELECT t - t % 3600 AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM e, b
    WHERE t >= day0 + 4 * 86400
      AND t - t % 3600 + 3600 <= mx - 1800
    GROUP BY 1, 2
    """,
)
def stream_late_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded end-to-end proof that the streaming watermark drops late
    data and that append mode emits exactly the finalized windows —
    not merely that streaming matches batch on fully-ordered input
    (``stream_tumbling_counts`` covers that).

    Construction: the events table is replayed out of order as three
    single-file micro-batches (``maxFilesPerTrigger=1`` under
    ``Trigger.AvailableNow``, file order forced via mtimes):

      batch 0 — the bulk: day 4 up to the final hour;
      batch 1 — the final hour (advances the watermark to
                max event time − 30 min);
      batch 2 — days 0–3, arriving very "late".

    Spark's late-record filter uses the PREVIOUS batch's watermark
    (verified empirically on this Spark: batch N's input is filtered
    by batch N−1's eviction watermark — one batch behind the progress
    line), so the days-0–3 rows hit a watermark already deep in the
    final day and every one of them must be dropped; eviction then
    finalizes and emits all windows closed before max−30 min.  The
    final answer the oracle states in SQL: hour windows from day 4 on
    whose end precedes the final watermark.  If late rows leaked in,
    their long-closed windows would be evicted-and-emitted the same
    batch and extra early windows would appear in the sink; if the
    watermark over-dropped, on-time windows would vanish — either way
    the hash mismatches.

    Fixed 30-min delay; hour-aligned window ends can only collide
    with the watermark if max(ts) falls exactly on a half-hour
    boundary (it doesn't, at any shipped SF — asserted in pytest), so
    the result is insensitive to Spark's boundary convention
    (`end <= wm` vs `end < wm`).

    Scale: identical topology to production late-data handling —
    state is bounded by the lateness allowance, eviction is by window
    end, per-batch work is one hash-shuffle into the state store.
    The only driver-side data movement is a 2-scalar min/max
    aggregate used to stage the replay."""
    ensure_deterministic_session(spark)
    events = load_table(spark, sf_dir, "events")
    t = F.col("ts").cast("timestamp").cast("long")
    row = events.agg(F.min(t).alias("mn"), F.max(t).alias("mx")).collect()[0]
    day0 = row.mn - row.mn % 86400
    t_split = day0 + 4 * 86400
    final_hour = row.mx - row.mx % 3600
    if not t_split < final_hour:
        raise ValueError("events span shorter than the replay construction needs")

    # stage ONCE per corpus content (r15): the 3-file replay derives
    # deterministically from the static events table, so rebuilding it
    # per run paid 3 filtered writes + moves per rep.  The tag is the
    # CONTENT-fingerprinted one (layout.events_tag: events.parquet
    # size+mtime), so in-place corpus regeneration re-stages; the
    # marker file is written last as the completion marker.
    base = scratch_path("stream_late", events_tag(sf_dir))
    in_dir = f"{base}/in"
    if not os.path.exists(f"{base}/_STAGED"):
        # reap stale-tag siblings before staging (VERDICT r15 #3 —
        # regenerated corpora otherwise strand old fingerprint dirs)
        from ..sources.layout import clean_superseded

        clean_superseded(base)
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(in_dir)
        batches = (
            events.filter((t >= t_split) & (t < final_hour)),  # bulk
            events.filter(t >= final_hour),  # tail: pushes the watermark
            events.filter(t < t_split),  # late by weeks: must be dropped
        )
        for i, part in enumerate(batches):
            stage = f"{base}/stage{i}"
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            src = glob.glob(f"{stage}/part-*.parquet")[0]
            dst = f"{in_dir}/batch{i}.parquet"
            shutil.move(src, dst)
            os.utime(dst, (1_000_000_000 + i * 3600, 1_000_000_000 + i * 3600))
        with open(f"{base}/_STAGED", "w") as fh:
            fh.write("ok")

    from ..streaming.windows import EVENT_STREAM_SCHEMA

    stream = (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp").cast("long").alias("window_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
        )
    )
    name = f"stream_late_{corpus_tag(sf_dir)}"
    # bytes-derived state shards (r15, shared rule): 3 micro-batches ×
    # 64 shards of state-store commits was pure provisioning overhead
    from ..streaming.windows import staged_stream_partitions

    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": staged_stream_partitions(in_dir)}
    ):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select("window_start", "event_type", "n")


@query(
    "scan_corrupt_tolerant",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id % 4 <> 3
    GROUP BY lang
    """,
)
def scan_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file tolerance with exact accounting: the documents
    table is staged as four parquet files sharded by doc_id % 4, the
    shard-3 file is then truncated mid-body (destroying its footer),
    and the scan runs with ``ignoreCorruptFiles`` — Spark must skip
    exactly the one broken file and return every row of the three
    intact shards, which the oracle states as a plain predicate.  If
    the reader silently dropped a healthy file (or half-read the
    broken one) the per-language counts/chars mismatch.

    The production failure this models: one bad object in a 100 TB
    lake (truncated upload, bit rot) must cost one file's rows and a
    metric, not the job.  Pair with a landed-file manifest (see
    ``sources/tablelog.py``) to alert on the skipped path.

    Scale: staging is a one-time per-corpus ETL (reused across runs);
    the graded operation is scan + one hash-shuffle aggregate."""
    ensure_deterministic_session(spark)
    docs = load_table(spark, sf_dir, "documents")

    from ..sources.layout import clean_superseded, versioned_scratch_tag

    base = scratch_path("corrupt_scan", versioned_scratch_tag(sf_dir, scan_corrupt_tolerant))
    in_dir = f"{base}/in"
    marker = f"{base}/_STAGED"
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        clean_superseded(base)
        os.makedirs(in_dir)
        for i in range(4):
            stage = f"{base}/stage{i}"
            docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(stage)
            src = glob.glob(f"{stage}/part-*.parquet")[0]
            shutil.move(src, f"{in_dir}/shard{i}.parquet")
            shutil.rmtree(stage)
        # truncate shard 3 mid-body: footer gone, file unreadable
        victim = f"{in_dir}/shard3.parquet"
        size = os.path.getsize(victim)
        with open(victim, "r+b") as f:
            f.truncate(size // 2)
        with open(marker, "w") as f:
            f.write("staged+corrupted\n")

    surviving = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema(docs.schema)
        .parquet(in_dir)
    )
    return surviving.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "split_kfold",
    oracle="""
    WITH tagged AS (
      SELECT n_chars,
             (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 16
            + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 5 AS fold
      FROM documents
    ), folds AS (
      SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM tagged GROUP BY fold
    )
    SELECT fold, n_docs, total_chars,
           CAST(SUM(n_docs) OVER () - n_docs AS BIGINT) AS train_docs
    FROM folds
    """,
)
def split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: the fold is
    pure arithmetic on the doc-id hash (two md5 hex chars via
    ``ascii`` — portable to any engine, no hex-parse builtin needed),
    so membership is stable under re-partitioning, appends, and
    re-runs, and every engine computes the same folds.  Each output
    row audits one fold: its eval size plus the leave-one-out train
    size the fold's model would see.

    Scale: the fold tag is a projection (no shuffle); the audit is a
    5-group hash agg plus a 5-row window.  Writing fold as a
    partition column materializes all 5 train/eval splits of a
    100 TB corpus without ever moving a row between folds."""
    ensure_deterministic_session(spark)
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    fold = (
        F.ascii(F.substring(h, 1, 1)) * 16 + F.ascii(F.substring(h, 2, 1))
    ) % 5
    folds = (
        docs.select(fold.cast("long").alias("fold"), "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    w = Window.partitionBy()
    return folds.select(
        "fold",
        "n_docs",
        "total_chars",
        (F.sum("n_docs").over(w) - F.col("n_docs")).cast("long").alias("train_docs"),
    )


WEIGHTED_K = 150


@query(
    "sample_weighted",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, n_chars,
             CAST((ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
                 + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) * 256
                 + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) AS DOUBLE)
               / CAST(n_chars AS DOUBLE) AS p
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars FROM pri
    ORDER BY p, doc_id
    LIMIT {WEIGHTED_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted-priority sampling: each doc gets
    priority hash/weight (weight = n_chars here; a quality score in
    production) and the global K smallest win — the exponential-race
    shape of Efraimidis–Spirakis sampling with a hash standing in for
    the random draw, so selection probability is monotone in weight,
    membership is stable under re-partitioning and appends, and the
    SAME subset comes back on every engine (the priority is ONE IEEE
    division on identical operands — bit-exact cross-engine, and the
    hash is pure ascii-md5 arithmetic needing no hex-parse builtin).

    Scale: like [[sample_reservoir]], orderBy().limit(K) executes as
    TakeOrderedAndProject — per-partition heaps, driver merges P·K
    rows, no corpus shuffle."""
    ensure_deterministic_session(spark)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    hv = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) * 256 + F.ascii(F.substring(h, 3, 1))
    pri = hv.cast("double") / F.col("n_chars").cast("double")
    return (
        docs.select("doc_id", "n_chars", pri.alias("p"))
        .orderBy("p", "doc_id")
        .limit(WEIGHTED_K)
        .select("doc_id", "n_chars")
    )
