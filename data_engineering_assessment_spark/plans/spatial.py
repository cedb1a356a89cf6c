"""Spatial-grid and Python-integration plans (round 4).

Two families:

1. **2-D grid operators** over the first two embedding dimensions,
   quantized to integer milli-units so every distance comparison is
   exact 64-bit arithmetic (cross-engine portable, no float order
   sensitivity): cell-density hot-spot ranking and an
   epsilon-radius pair join via 3x3 neighbor-cell equi-join — the
   standard scale-out decomposition of a spatial "DWithin" join
   (candidate pairs come from a hash-partitionable equi-join on cell
   id, never from a cross product).  The same plan shape serves
   geohash/S2/H3-bucketed joins when real coordinates exist; the
   quantization step is the only thing that changes.

2. **Sanctioned Python hops** that complete the PySpark integration
   surface alongside `applyInPandas`/`mapInPandas` (already graded):
   `cogroup().applyInPandas` (two tables co-partitioned into one
   pandas function — the escape hatch for cross-table per-key logic
   pandas must own), a Spark 4 Python **UDTF** lateral-joined per
   row, and `df.observe` (single-pass sidecar metrics collected off
   the same scan that does the work — the zero-extra-pass data
   quality pattern).  Each carries a value-exact DuckDB oracle so
   the Python paths are held to the same gate as the native ones.

Portability contract as in ``plans/registry.py``: graded outputs are
BIGINT/STRING only, identical aliases in the Spark builder and the
oracle, unique tie-break keys on every ordered output.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

# Quantization: embedding dims 1-2 (values ~ +/-0.41 at every SF) to
# integer milli-units.  FLOOR(double * 1000) is bit-identical in
# Spark and DuckDB: FLOAT -> DOUBLE cast is exact, the multiply is
# one IEEE op on identical operands, FLOOR is unambiguous (no
# rounding-mode divergence, unlike ROUND at .5 ties).
_QX = "CAST(FLOOR(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)"
_QY = "CAST(FLOOR(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)"

DENSITY_CELL = 64  # milli-units per density cell (~12 cells/axis)
RADIUS = 25  # pair-join radius in milli-units; cell size == radius


def _quantized_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.floor(F.element_at("embedding", 1).cast("double") * 1000).alias("qx"),
        F.floor(F.element_at("embedding", 2).cast("double") * 1000).alias("qy"),
    )


@query(
    "grid_density_topk",
    oracle=f"""
    WITH q AS (
      SELECT {_QX} AS qx, {_QY} AS qy FROM embeddings
    ), cells AS (
      SELECT CAST(FLOOR(CAST(qx AS DOUBLE) / {DENSITY_CELL}) AS BIGINT) AS cx,
             CAST(FLOOR(CAST(qy AS DOUBLE) / {DENSITY_CELL}) AS BIGINT) AS cy
      FROM q
    )
    SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM cells GROUP BY cx, cy
    ORDER BY n_points DESC, cx, cy
    LIMIT 15
    """,
)
def grid_density_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 densest 2-D grid cells — the hot-spot query behind
    heatmaps, spatial skew profiling, and IVF/grid-index cell sizing.

    Scale: one map-side-combined hash aggregation on (cx, cy) — the
    shuffle moves one row per *cell*, not per point — then a
    TakeOrderedAndProject top-15 (per-partition heaps, no global
    sort).  At 100 TB with a bounded cell grid the shuffle is a few
    thousand rows regardless of corpus size."""
    pts = _quantized_points(spark, sf_dir)
    cells = pts.select(
        F.floor(F.col("qx").cast("double") / DENSITY_CELL).alias("cx"),
        F.floor(F.col("qy").cast("double") / DENSITY_CELL).alias("cy"),
    )
    return (
        cells.groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.desc("n_points"), "cx", "cy")
        .limit(15)
    )


@query(
    "grid_radius_join",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_QX} AS qx, {_QY} AS qy FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (a.qx - b.qx) * (a.qx - b.qx)
         + (a.qy - b.qy) * (a.qy - b.qy) AS d2
    FROM q a JOIN q b ON a.vec_id < b.vec_id
    WHERE (a.qx - b.qx) * (a.qx - b.qx)
        + (a.qy - b.qy) * (a.qy - b.qy) <= {RADIUS * RADIUS}
    """,
)
def grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within radius {R} (exact integer squared
    distance) via the grid decomposition of a spatial DWithin join.

    Each point belongs to one cell of size == radius; a pair within
    the radius necessarily lies in adjacent cells, so candidates are
    generated by equi-joining side A's cell against side B exploded
    to its 3x3 neighbor cells — 9x fan-out on one side, then an
    exact integer distance filter.  The oracle brute-forces the
    O(n^2) pair space; the engine never does.

    Scale: the candidate join is a plain hash equi-join on (cx, cy)
    — shuffle-partitionable, AQE-skewable — with per-cell cost bound
    by local density, not corpus size.  This is how big-big spatial
    joins (and DBSCAN neighbor search) run on clusters; a cross
    product would be O(n^2) and is asserted absent in PLANS.md."""
    pts = _quantized_points(spark, sf_dir)
    cell = lambda c: F.floor(F.col(c).cast("double") / RADIUS)  # noqa: E731
    a = pts.select(
        F.col("vec_id").alias("id_a"),
        F.col("qx").alias("ax"),
        F.col("qy").alias("ay"),
        cell("qx").alias("cx"),
        cell("qy").alias("cy"),
    )
    b = (
        pts.select(
            F.col("vec_id").alias("id_b"),
            F.col("qx").alias("bx"),
            F.col("qy").alias("by"),
            cell("qx").alias("bcx"),
            cell("qy").alias("bcy"),
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "id_b",
            "bx",
            "by",
            (F.col("bcx") + F.col("dx")).alias("ncx"),
            (F.col("bcy") + F.col("dy")).alias("ncy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(
            b,
            (F.col("cx") == F.col("ncx"))
            & (F.col("cy") == F.col("ncy"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(d2 <= RADIUS * RADIUS)
        .select("id_a", "id_b", d2.alias("d2"))
    )


KNN_CELL = 64  # kNN blocking cell (milli-units); neighborhood = 3x3 cells
KNN_K = 3


@query(
    "grid_knn_join",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_QX} AS qx, {_QY} AS qy FROM embeddings
    ), cand AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             (a.qx - b.qx) * (a.qx - b.qx)
           + (a.qy - b.qy) * (a.qy - b.qy) AS d2
      FROM q a JOIN q b ON a.vec_id <> b.vec_id
      WHERE ABS(CAST(FLOOR(CAST(a.qx AS DOUBLE) / {KNN_CELL}) AS BIGINT)
              - CAST(FLOOR(CAST(b.qx AS DOUBLE) / {KNN_CELL}) AS BIGINT)) <= 1
        AND ABS(CAST(FLOOR(CAST(a.qy AS DOUBLE) / {KNN_CELL}) AS BIGINT)
              - CAST(FLOOR(CAST(b.qy AS DOUBLE) / {KNN_CELL}) AS BIGINT)) <= 1
    ), ranked AS (
      SELECT vec_id, neighbor_id, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, neighbor_id) AS rnk
      FROM cand
    )
    SELECT vec_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, d2
    FROM ranked WHERE rnk <= {KNN_K}
    ORDER BY vec_id, rnk
    """,
)
def grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-nearest-neighbor join: each point's top-3 nearest
    OTHER points within its 3×3 grid-cell neighborhood (cell = 64
    milli-units), exact integer squared distance, deterministic
    (d², id) tiebreak — the spatial kNN-join decomposition that
    serves DBSCAN/kNN-graph construction the way [[grid_radius_join]]
    serves DWithin.  The neighborhood bound is part of the contract
    (a kNN join without a distance bound can't be blocked); the
    oracle brute-forces the O(n²) pair space under the same bound.

    Scale: candidates come from one hash equi-join on cell id (3×3
    fan-out on one side) — per-cell cost bounded by local density,
    never corpus size; ranking is a per-point window over each
    point's own candidate set.  No cross product (PLANS.md)."""
    from pyspark.sql import Window

    pts = _quantized_points(spark, sf_dir)
    cell = lambda c: F.floor(F.col(c).cast("double") / KNN_CELL)  # noqa: E731
    a = pts.select(
        F.col("vec_id").alias("qid"),
        F.col("qx").alias("ax"),
        F.col("qy").alias("ay"),
        cell("qx").alias("cx"),
        cell("qy").alias("cy"),
    )
    b = (
        pts.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("qx").alias("bx"),
            F.col("qy").alias("by"),
            cell("qx").alias("bcx"),
            cell("qy").alias("bcy"),
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "neighbor_id",
            "bx",
            "by",
            (F.col("bcx") + F.col("dx")).alias("ncx"),
            (F.col("bcy") + F.col("dy")).alias("ncy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    cand = (
        a.join(
            b,
            (F.col("cx") == F.col("ncx"))
            & (F.col("cy") == F.col("ncy"))
            & (F.col("qid") != F.col("neighbor_id")),
        )
        .select(F.col("qid").alias("vec_id"), "neighbor_id", d2.alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("vec_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"), "d2")
        .orderBy("vec_id", "rnk")
    )


@query(
    "udaf_trimmed_mean",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY CAST(FLOOR(c_acctbal * 100 + 0.5)
                                              AS BIGINT), c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    ), kept AS (
      SELECT c_mktsegment, cents, n FROM c
      WHERE rn > n // 10 AND rn <= n - n // 10
    )
    SELECT c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(CASE WHEN SUM(cents) >= 0 THEN SUM(cents) // COUNT(*)
                ELSE -((-SUM(cents)) // COUNT(*)) END AS BIGINT)
             AS trimmed_mean_cents
    FROM kept GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via a GROUPED-AGG pandas UDF — the one
    PySpark integration surface the registry didn't yet grade
    (scalar-pandas, grouped-map, cogrouped-map, mapInPandas,
    mapInArrow, UDTF and Python DataSource all are): per-market-
    segment 10%-trimmed mean of account balance, the robust mean a
    finance rollup uses so a few whale accounts can't move the
    segment average.  The pandas function receives each group's cents
    as ONE Arrow batch and returns one scalar; trimming drops
    exactly ⌊n/10⌋ rows from each end of the sorted multiset, so the
    kept SUM is tie-insensitive and the oracle can restate it with a
    rank window.

    Scale: grouped-agg shuffles by segment and streams each group
    through Arrow once — the same partial-agg shape as a native
    aggregate, with the Python hop sanctioned because the reduction
    (positional trim) isn't expressible as a native Spark aggregate
    without materializing per-group sorted arrays."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def trimmed_mean_cents(cents: pd.Series) -> int:
        s = cents.sort_values(kind="mergesort").reset_index(drop=True)
        k = len(s) // 10
        kept = s.iloc[k : len(s) - k]
        total = int(kept.sum())
        n = len(kept)
        q = abs(total) // n
        return q if total >= 0 else -q

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("cents"),
    )
    # Spark forbids mixing grouped-agg pandas UDFs with native
    # aggregates in one agg(): two segment-keyed aggregates, joined
    # on the 5-row segment domain (broadcast)
    counts = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.count(F.lit(1)) - 2 * F.expr("count(*) div 10"))
        .cast("long")
        .alias("n_kept"),
    )
    trimmed = cust.groupBy("c_mktsegment").agg(
        trimmed_mean_cents("cents").alias("trimmed_mean_cents")
    )
    return (
        counts.join(F.broadcast(trimmed), "c_mktsegment")
        .select("c_mktsegment", "n_customers", "n_kept", "trimmed_mean_cents")
        .orderBy("c_mktsegment")
    )


DBSCAN_MINPTS = 4  # core point := >= MINPTS neighbors within RADIUS


@query(
    "grid_dbscan_core",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_QX} AS qx, {_QY} AS qy FROM embeddings
    ), nbr AS (
      SELECT a.vec_id AS id, b.vec_id AS nid
      FROM q a JOIN q b
        ON a.vec_id <> b.vec_id
       AND (a.qx - b.qx) * (a.qx - b.qx)
         + (a.qy - b.qy) * (a.qy - b.qy) <= {RADIUS * RADIUS}
    ), cnt AS (
      SELECT q.vec_id, COUNT(nbr.nid) AS nn
      FROM q LEFT JOIN nbr ON q.vec_id = nbr.id GROUP BY q.vec_id
    ), core AS (
      SELECT vec_id FROM cnt WHERE nn >= {DBSCAN_MINPTS}
    ), border AS (
      SELECT DISTINCT nbr.id AS vec_id FROM nbr
      WHERE nbr.nid IN (SELECT vec_id FROM core)
        AND nbr.id NOT IN (SELECT vec_id FROM core)
    )
    SELECT CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_points,
           CAST((SELECT COUNT(*) FROM core) AS BIGINT) AS n_core,
           CAST((SELECT COUNT(*) FROM border) AS BIGINT) AS n_border,
           CAST((SELECT COUNT(*) FROM q)
              - (SELECT COUNT(*) FROM core)
              - (SELECT COUNT(*) FROM border) AS BIGINT) AS n_noise
    """,
)
def grid_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN point classification (core / border / noise) at
    eps = 25 milli-units, minPts = 4 — the density-clustering
    primitive on top of [[grid_radius_join]]'s candidate machinery:
    core points have ≥ minPts neighbors within eps, border points are
    non-core within eps of a core, the rest is noise.  (Full DBSCAN =
    these classes + [[graph_cc_alternating]] over core-core edges —
    both building blocks are graded.)

    Scale: neighbor pairs come from the same 3×3 cell equi-join as
    the radius join (per-cell cost bounded by local density, no cross
    product); counting and the border semi-join shuffle edge-sized
    frames on point id.  The oracle brute-forces O(n²); the engine
    never does."""
    pts = _quantized_points(spark, sf_dir)
    cell = lambda c: F.floor(F.col(c).cast("double") / RADIUS)  # noqa: E731
    a = pts.select(
        F.col("vec_id").alias("id"),
        F.col("qx").alias("ax"),
        F.col("qy").alias("ay"),
        cell("qx").alias("cx"),
        cell("qy").alias("cy"),
    )
    b = (
        pts.select(
            F.col("vec_id").alias("nid"),
            F.col("qx").alias("bx"),
            F.col("qy").alias("by"),
            cell("qx").alias("bcx"),
            cell("qy").alias("bcy"),
        )
        .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "nid",
            "bx",
            "by",
            (F.col("bcx") + F.col("dx")).alias("ncx"),
            (F.col("bcy") + F.col("dy")).alias("ncy"),
        )
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    nbr = (
        a.join(
            b,
            (F.col("cx") == F.col("ncx"))
            & (F.col("cy") == F.col("ncy"))
            & (F.col("id") != F.col("nid")),
        )
        .where(d2 <= RADIUS * RADIUS)
        .select("id", "nid")
    )
    cnt = (
        pts.select(F.col("vec_id").alias("id"))
        .join(nbr.groupBy("id").agg(F.count(F.lit(1)).alias("nn")), "id", "left")
        .select("id", F.coalesce("nn", F.lit(0)).alias("nn"))
    )
    core = cnt.filter(F.col("nn") >= DBSCAN_MINPTS).select("id")
    border = (
        nbr.join(core.withColumnRenamed("id", "nid"), "nid", "left_semi")
        .select("id")
        .distinct()
        .join(core, "id", "left_anti")
    )
    s_pts = pts.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    s_core = core.agg(F.count(F.lit(1)).cast("long").alias("n_core"))
    s_border = border.agg(F.count(F.lit(1)).cast("long").alias("n_border"))
    return (
        s_pts.crossJoin(F.broadcast(s_core))
        .crossJoin(F.broadcast(s_border))
        .select(
            "n_points",
            "n_core",
            "n_border",
            (F.col("n_points") - F.col("n_core") - F.col("n_border"))
            .cast("long")
            .alias("n_noise"),
        )
    )


_RECONCILE_SCHEMA = (
    "o_orderkey long, n_lines long, total_cents long, gross_cents long, diff_cents long"
)


def _reconcile(odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
    """Per-order reconciliation inside one co-grouped bucket.

    Money arrives pre-quantized to integer cents (the Spark plan does
    the rounding natively, see the builder), so pandas only ever
    sums int64 — no float summation-order or rounding-mode hazards
    cross the Arrow boundary."""
    if ldf.empty:
        agg = pd.DataFrame(
            {
                "l_orderkey": pd.Series(dtype="int64"),
                "n_lines": pd.Series(dtype="int64"),
                "gross_cents": pd.Series(dtype="int64"),
            }
        )
    else:
        agg = ldf.groupby("l_orderkey", as_index=False).agg(
            n_lines=("line_cents", "size"), gross_cents=("line_cents", "sum")
        )
    m = odf.merge(agg, left_on="o_orderkey", right_on="l_orderkey", how="left")
    m["n_lines"] = m["n_lines"].fillna(0).astype("int64")
    m["gross_cents"] = m["gross_cents"].fillna(0).astype("int64")
    m["diff_cents"] = m["total_cents"] - m["gross_cents"]
    return m[["o_orderkey", "n_lines", "total_cents", "gross_cents", "diff_cents"]]


@query(
    "cogroup_order_reconcile",
    oracle="""
    SELECT o.o_orderkey,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
           CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS total_cents,
           CAST(COALESCE(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)), 0)
                AS BIGINT) AS gross_cents,
           CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
             - CAST(COALESCE(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)), 0)
                    AS BIGINT) AS diff_cents
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-header vs line-item reconciliation through
    ``groupBy().cogroup().applyInPandas`` — the API that delivers two
    tables, co-partitioned on one key, into a single pandas function.

    The business logic here (count lines, sum gross cents, diff
    against the header total) is deliberately also expressible as a
    plain join+groupBy — that IS the oracle — so the driver gate
    proves the cogroup path value-exact, order-count-exact, and
    empty-group-correct (orders with zero lines survive with
    n_lines = 0).  Use this hop only when the per-key cross-table
    logic genuinely needs pandas (statsmodels fits, curve alignment,
    order-dependent reconciliation state machines).

    Scale: grouping is on a 256-way hash bucket of the join key, not
    the raw key — the two shuffles are the same width a join would
    need, Python sees 256 bounded batches (bucket count is the knob:
    size it so corpus/buckets fits executor memory; results are
    bucket-count-invariant), and each bucket does a local pandas
    merge.  No driver collect, no per-key Python round-trips."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").alias("total_cents"),
        F.pmod("o_orderkey", F.lit(256)).alias("bucket"),
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").alias("line_cents"),
        F.pmod("l_orderkey", F.lit(256)).alias("bucket"),
    )
    return (
        orders.groupBy("bucket")
        .cogroup(lines.groupBy("bucket"))
        .applyInPandas(_reconcile, schema=_RECONCILE_SCHEMA)
    )


@query(
    "udtf_sentence_split",
    oracle="""
    WITH exploded AS (
      SELECT doc_id, unnest(string_split(text, '.')) AS raw FROM documents
    )
    SELECT doc_id, trim(raw) AS sentence,
           CAST(length(trim(raw)) AS BIGINT) AS sent_chars
    FROM exploded
    WHERE trim(raw) <> ''
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation through a Spark 4 Python **UDTF**
    lateral-joined per document — the one-row-in / many-rows-out
    Python extension point (the others — scalar pandas_udf,
    mapInPandas, applyInPandas, cogroup — are graded elsewhere).

    The segmentation rule (split on '.', trim, drop empties) is
    deliberately restatable in SQL so the UDTF output is held to a
    value-exact oracle; a production splitter would swap richer
    logic into ``eval`` without touching the plan shape.

    Scale: the UDTF runs row-parallel inside each task (no shuffle
    is introduced; the lateral join is a per-partition generate).
    Python-per-row cost is the known tax of this extension point —
    for splitters expressible as expressions, `explode(split())`
    stays JVM-side (see `text_stats`); the UDTF is for logic that
    needs real Python per row."""
    from pyspark.sql.functions import udtf


    @udtf(returnType="doc_id bigint, sentence string, sent_chars bigint")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001
            for part in (text or "").split("."):
                s = part.strip(" ")
                if s:
                    yield doc_id, s, len(s)

    spark.udtf.register("sentence_split_udtf", SentenceSplit)
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        """
        SELECT s.doc_id, s.sentence, s.sent_chars
        FROM udtf_docs_v AS d,
             LATERAL sentence_split_udtf(d.doc_id, d.text) AS s
        """
    )


@query(
    "observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    """,
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass sidecar metrics via ``df.observe``: row count,
    char volume, and min/max length are collected by a
    CollectMetrics node riding the SAME scan that serves the query —
    the zero-extra-pass pattern for data-quality counters, SLA row
    counts, and freshness gauges on 100 TB pipelines (an explicit
    audit aggregation would double-read the source).

    The builder consumes the observed plan with a count() action,
    then surfaces the observation as a one-row DataFrame so the
    driver gate can hash it against a plain SQL restatement —
    proving the sidecar path returns exactly what a dedicated
    aggregation would."""
    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("corpus_profile")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    observed.count()  # one action materializes both query and metrics
    m = obs.get
    return spark.createDataFrame(
        [(m["n_docs"], m["total_chars"], m["min_chars"], m["max_chars"])],
        schema="n_docs bigint, total_chars bigint, min_chars bigint, max_chars bigint",
    )


@query(
    "udtf_dynamic_melt",
    oracle="""
    SELECT doc_id AS row_id, 'text' AS col_name, text AS val FROM documents
    UNION ALL
    SELECT doc_id, 'lang', lang FROM documents
    UNION ALL
    SELECT doc_id, 'source', source FROM documents
    """,
)
def udtf_dynamic_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()``): a table
    function that accepts ANY table via a ``TABLE(...)`` argument,
    validates at PLAN TIME that a BIGINT id column exists, and melts
    every string column to (row_id, col_name, val) — the generic
    audit-melt that works unchanged on documents, orders, or any
    future table (polymorphism pinned in tests against a second
    schema).  Complements `udtf_sentence_split`, which has a fixed
    signature; ``analyze`` is the schema-computation hook that makes
    a UDTF reusable infrastructure instead of a one-off.

    Scale: per-partition generate, no shuffle introduced; plan-time
    validation fails fast on a bad input table instead of at task
    time on a 100 TB scan."""
    from dataclasses import dataclass

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @dataclass
    class MeltAnalyzeResult(AnalyzeResult):
        # resolved at PLAN time and shipped to every eval() via the
        # UDTF constructor — eval must use the exact column analyze
        # validated, not "the first int-looking value in row order"
        # (which also matches bools and narrower int columns)
        id_col: str = ""

    @udtf
    class MeltStrings:
        def __init__(self, analyze_result: "MeltAnalyzeResult | None" = None):
            self._id_col = analyze_result.id_col if analyze_result else None

        @staticmethod
        def analyze(t: AnalyzeArgument) -> "MeltAnalyzeResult":
            ids = [
                f.name
                for f in t.dataType.fields
                if f.dataType.simpleString() == "bigint"
            ]
            if not ids:
                raise ValueError("melt_strings requires a BIGINT id column")
            return MeltAnalyzeResult(
                schema=StructType(
                    [
                        StructField("row_id", LongType()),
                        StructField("col_name", StringType()),
                        StructField("val", StringType()),
                    ]
                ),
                id_col=ids[0],
            )

        def eval(self, row):  # noqa: ANN001
            d = row.asDict()
            rid = d[self._id_col]
            for k, v in d.items():
                if isinstance(v, str):
                    yield rid, k, v

    spark.udtf.register("melt_strings_udtf", MeltStrings)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("udtf_melt_docs_v")
    return spark.sql(
        "SELECT * FROM melt_strings_udtf(TABLE(udtf_melt_docs_v))"
    )
