"""Classic warehouse query shapes — the TPC-H patterns not yet
represented in the registry (Q4, Q7, Q8, Q12, Q13, Q14, Q16, Q19,
Q20, Q22 analogues on the corpus schema) plus time-series anomaly
flagging and tokenizer-fertility profiling.

Like the reference's ``build_query`` (``/root/reference/02.py:17-103``)
these are declarative plans handed wholesale to Catalyst; every graded
output follows the round-3 contract (BIGINT/INT/STRING/BOOL only,
money and rates in fixed-point integer units) so the DuckDB oracle
hash-compares exactly on any grading host.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.layout import corpus_tag, scratch_path
from ..sources.tables import load_table
from .registry import query


def _epoch_s(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("timestamp").cast("long")


def _rev_x10000(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """Discounted line revenue quantized to 1e-4 units — exact decimal
    arithmetic end-to-end (2-decimal price × 2-decimal discount), so
    no floating point is involved on either engine (the repo's
    decimal-cast cents contract, docs/VERIFICATION.md §1)."""
    return (
        F.col(price).cast("decimal(12,2)")
        * (F.lit(1) - F.col(disc).cast("decimal(3,2)"))
        * 10000
    ).cast("long")


_REV_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(3,2))) * 10000 AS BIGINT)"
)


@query(
    "join_exists_late",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1999-01-01'
      AND o.o_orderdate < TIMESTAMP '1999-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(FLOOR(epoch(l.l_shipdate)) AS BIGINT)
              > CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT) + 60 * 86400
      )
    GROUP BY o.o_orderpriority
    """,
)
def join_exists_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking shape (TPC-H Q4): count orders in a
    half-year window having at least one lineitem shipped more than
    60 days after the order date — EXISTS expressed as a left-semi
    join with a non-equi residual on the epoch columns.

    Scale: the date filter reaches the orders scan; the semi join
    shuffles both sides on orderkey once and short-circuits per key
    (no fan-out, no distinct needed); the priority agg re-uses tiny
    post-semi rows."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-07-01").cast("timestamp"))
        )
        .withColumn("o_date_s", _epoch_s("o_orderdate"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", _epoch_s("l_shipdate").alias("l_ship_s")
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_ship_s > F.col("o_date_s") + 60 * 86400),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "multi_join_nation_flow",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_x10000
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def multi_join_nation_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-shipping shape (TPC-H Q7): bilateral trade between two
    nations by ship year over a 6-table join.

    Scale: nation filters push through the supplier/customer
    broadcasts so lineitem and orders are pre-filtered before their
    one big orderkey shuffle; the year agg is a rollup of the
    already-joined rows (no second pass)."""
    pair = ("NATION_1", "NATION_2")
    sn = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    cn = sn.alias("cn")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == sn.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .select("c_custkey", F.col("cn.n_name").alias("cust_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(F.sum(_rev_x10000()).alias("revenue_x10000"))
    )


@query(
    "agg_market_share",
    oracle=f"""
    WITH rev AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
             {_REV_SQL} AS r_x10000,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT order_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN r_x10000 ELSE 0 END) AS BIGINT)
             AS nation_rev_x10000,
           CAST(SUM(r_x10000) AS BIGINT) AS total_rev_x10000,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN r_x10000 ELSE 0 END) * 10000
                  // SUM(r_x10000) AS BIGINT) AS share_bp
    FROM rev GROUP BY order_year
    """,
)
def agg_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-share shape (TPC-H Q8): NATION_2 suppliers' share of
    revenue delivered to ASIA customers, by order year, as integer
    basis points (cross-multiplied — no float ratio ever exists).

    Scale: region→nation→customer collapses to one broadcast-able
    dim; supplier→nation likewise; lineitem⋈orders is the only big
    shuffle and the conditional sums ride the same agg."""
    n = load_table(spark, sf_dir, "nation")
    asia = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(
                    F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    nation_rev = F.when(F.col("supp_nation") == "NATION_2", F.col("r_x10000")).otherwise(F.lit(0).cast("long"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(asia), o.o_custkey == asia.c_custkey, "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            _rev_x10000().alias("r_x10000"),
            "supp_nation",
        )
        .groupBy("order_year")
        .agg(
            F.sum(nation_rev).alias("nation_rev_x10000"),
            F.sum("r_x10000").alias("total_rev_x10000"),
        )
        .select(
            "order_year",
            "nation_rev_x10000",
            "total_rev_x10000",
            F.expr("nation_rev_x10000 * 10000 div total_rev_x10000").alias("share_bp"),
        )
    )


@query(
    "join_priority_class",
    oracle="""
    SELECT CASE WHEN l.l_quantity >= 25 THEN 'BULK' ELSE 'SMALL' END AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1999-01-01'
      AND l.l_shipdate < TIMESTAMP '2000-01-01'
    GROUP BY CASE WHEN l.l_quantity >= 25 THEN 'BULK' ELSE 'SMALL' END
    """,
)
def join_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority split (TPC-H Q12 shape, quantity tier standing
    in for shipmode): per ship class, how many lines belong to
    urgent/high orders vs everything else — join + conditional agg.

    Scale: the year filter hits the lineitem scan; one orderkey
    shuffle; both conditional sums are map-side partials of the same
    group-by."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.when(F.col("l_quantity") >= 25, "BULK").otherwise("SMALL").alias("ship_class"),
            F.when(is_high, 1).otherwise(0).alias("hi"),
            F.when(is_high, 0).otherwise(1).alias("lo"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum("hi").alias("high_line_count"),
            F.sum("lo").alias("low_line_count"),
        )
    )


@query(
    "agg_custdist",
    oracle="""
    WITH co AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def agg_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-order-count distribution (TPC-H Q13): LEFT OUTER join
    keeps zero-order customers, then a second aggregation histograms
    the per-customer counts.

    Scale: one custkey shuffle for the outer join + count; the
    histogram groups ~|distinct counts| rows — negligible.  COUNT of
    a column (not *) skips the NULLs the outer join introduces, in
    both engines."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "agg_promo_share",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END) AS BIGINT)
             AS promo_rev_x10000,
           CAST(SUM({_REV_SQL}) AS BIGINT) AS total_rev_x10000,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END) * 10000
                  // SUM({_REV_SQL}) AS BIGINT) AS promo_bp
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1999-09-01'
      AND l.l_shipdate < TIMESTAMP '1999-10-01'
    """,
)
def agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect shape (TPC-H Q14): share of one month's revenue
    coming from PROMO parts, in integer basis points.

    Scale: month filter prunes the lineitem scan, part is broadcast,
    and the whole result is a single-row global agg — partials merge
    map-side, no data-proportional shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev_x10000()).otherwise(F.lit(0).cast("long"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo).alias("promo_rev_x10000"),
            F.sum(_rev_x10000()).alias("total_rev_x10000"),
        )
        .select(
            "promo_rev_x10000",
            "total_rev_x10000",
            F.expr("promo_rev_x10000 * 10000 div total_rev_x10000").alias("promo_bp"),
        )
    )


@query(
    "agg_supplier_distinct",
    oracle="""
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def agg_supplier_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship shape (TPC-H Q16): distinct supplier
    count per (brand, type, size) bucket, excluding a supplier
    blocklist (NOT IN → broadcast anti-join; s_suppkey is never null
    so the two are equivalent).

    Scale: part filters ride the broadcast; the blocklist is tiny;
    the only shuffle is the distinct-agg on the group keys."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "join_disjunctive",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_x10000,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """,
)
def join_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue shape (TPC-H Q19): an equi-join whose residual
    is a 3-arm disjunction mixing columns from both sides — the
    classic test that an engine keeps the equi-key join (not a
    nested-loop) and evaluates the OR as a post-join filter.

    Scale: Catalyst extracts the common l_quantity/p_size bounds it
    can, broadcasts part, and the disjunction never forces a
    CartesianProduct (asserted in tests/test_plans.py for the
    join-family keys)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm)
        .agg(
            F.sum(_rev_x10000()).alias("revenue_x10000"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "subquery_semi_agg",
    oracle="""
    WITH sq AS (
      SELECT l.l_suppkey, CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS shipped_qty
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      GROUP BY l.l_suppkey
      HAVING SUM(CAST(l.l_quantity AS BIGINT)) > 400
    )
    SELECT s.s_suppkey, s.s_name, sq.shipped_qty
    FROM supplier s JOIN sq ON s.s_suppkey = sq.l_suppkey
    """,
)
def subquery_semi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-volume supplier shape (TPC-H Q20): suppliers that shipped
    more than a threshold quantity of 'small…' parts — a nested
    IN-subquery chain decorrelated to semi-join → agg → HAVING →
    join back to the supplier dim.

    Scale: the part-name filter makes the IN list broadcast-able;
    lineitem is semi-joined before aggregating (never widened); the
    final supplier join is a broadcast of the surviving handful."""
    small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sq = (
        li.join(F.broadcast(small), li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("shipped_qty"))
        .filter(F.col("shipped_qty") > 400)
    )
    return s.join(sq, s.s_suppkey == sq.l_suppkey).select("s_suppkey", "s_name", "shipped_qty")


@query(
    "agg_antijoin_avg",
    oracle="""
    WITH bal AS (
      SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS tot_x100,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(c.c_nationkey AS INT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS totacctbal_x100
    FROM customer c, bal
    WHERE CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) * bal.cnt > bal.tot_x100
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def agg_antijoin_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity shape (TPC-H Q22): customers with no
    orders whose balance beats the positive-balance average, counted
    per nation.  The average threshold stays exact: balance·count >
    total is the cross-multiplied integer form of balance > avg.

    Scale: the single-row (sum, count) aggregate broadcasts; NOT
    EXISTS is one anti-join shuffle on custkey; the nation rollup is
    then trivial."""
    c = load_table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
    bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(cents).alias("tot_x100"), F.count(F.lit(1)).alias("cnt"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.withColumn("bal_x100", cents)
        .crossJoin(F.broadcast(bal))
        .filter(F.col("bal_x100") * F.col("cnt") > F.col("tot_x100"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_x100").alias("totacctbal_x100"),
        )
    )


@query(
    "tokenizer_fertility",
    oracle="""
    SELECT lang,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS BIGINT)) * 1000
                  // SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
             AS chars_per_token_milli
    FROM documents
    GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile: characters per whitespace token by
    language — the standard pre-training diagnostic for how expensive
    each language is to tokenize (fixed-point milli-units; token
    definition shared with the ``token_count`` key).

    Scale: pure native expressions, one shuffle on lang (25 groups),
    map-side partial sums do all the work."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        docs.groupBy("lang")
        .agg(
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.sum(n_tok).alias("total_tokens"),
        )
        .select(
            "lang",
            "total_chars",
            "total_tokens",
            F.expr("total_chars * 1000 div total_tokens").alias("chars_per_token_milli"),
        )
    )


@query(
    "ts_ohlc_downsample",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS bucket_h,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             event_id,
             CAST(CAST(value AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS v_micro
      FROM events
    ), r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket_h
                                ORDER BY ts_s ASC, event_id ASC) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, bucket_h
                                ORDER BY ts_s DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT user_id, bucket_h,
           CAST(MAX(CASE WHEN rn_a = 1 THEN v_micro END) AS BIGINT) AS open_micro,
           CAST(MAX(v_micro) AS BIGINT) AS high_micro,
           CAST(MIN(v_micro) AS BIGINT) AS low_micro,
           CAST(MAX(CASE WHEN rn_d = 1 THEN v_micro END) AS BIGINT) AS close_micro,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, bucket_h
    """,
)
def ts_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per user and hour bucket, the opening /
    high / low / closing value — the canonical time-series
    resampling aggregate.  Open/close are argmin/argmax over event
    time, made deterministic under timestamp ties by the event_id
    tiebreak and expressed as rank-1 picks so both engines agree
    exactly.

    Scale: both row_number specs share the (user, bucket) hash
    partitioning → ONE exchange, two in-partition sorts; the final
    agg rides the same shuffle.  No self-join, no per-bucket
    collect."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("cast(cast(ts as timestamp) as long) div 3600").alias("bucket_h"),
        _epoch_s("ts").alias("ts_s"),
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 1000000).cast("long").alias("v_micro"),
    )
    grp = ("user_id", "bucket_h")
    w_a = Window.partitionBy(*grp).orderBy(F.asc("ts_s"), F.asc("event_id"))
    w_d = Window.partitionBy(*grp).orderBy(F.desc("ts_s"), F.desc("event_id"))
    r = e.select(
        "*",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return r.groupBy(*grp).agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("v_micro"))).alias("open_micro"),
        F.max("v_micro").alias("high_micro"),
        F.min("v_micro").alias("low_micro"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v_micro"))).alias("close_micro"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "text_rarity_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), vc AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(vc.c) AS BIGINT) AS freq_sum,
           CAST(SUM(vc.c) * 1000 // COUNT(*) AS BIGINT) AS mean_tok_freq_milli
    FROM tok t JOIN vc ON t.tok = vc.tok
    GROUP BY t.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-rarity quality signal: each document's mean corpus
    frequency of its tokens (fixed-point milli-units) — rare-token-
    heavy docs score low, boilerplate scores high.  The log-free twin
    of a unigram-LM perplexity score: monotone in the same ordering
    but exact integers, so it survives any engine/summation order
    (ln() is not bit-portable across libms).

    Scale: explode → one token shuffle for the vocab count → one
    equi-join back on token (frequency skew on stopwords is AQE
    skew-split territory) → per-doc re-agg.  No broadcast of the
    full vocab, no driver state.  The ×1000 step goes through a
    per-group decimal(28,0) cast (round 12): same reasoning as
    [[text_bigram_lm_score]] — stopword counts make the unigram
    product hit the 64-bit ceiling first of the two, and the scalar
    per-output-row cast fixes it without the +24% per-row
    wide-accumulation cost that was A/B'd out."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    vc = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(vc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_sum",
            F.expr(
                "CAST(freq_sum AS DECIMAL(28,0)) * 1000 div n_tokens"
            ).alias("mean_tok_freq_milli"),
        )
    )


@query(
    "ts_rolling_anomaly",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(CAST(value AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS v_micro
      FROM events
    )
    SELECT user_id, event_id, ts_s, v_micro,
           CAST(SUM(v_micro) OVER w AS BIGINT) AS win_sum_micro,
           CAST(COUNT(*) OVER w AS BIGINT) AS win_cnt,
           (v_micro * (COUNT(*) OVER w) > 3 * (SUM(v_micro) OVER w)) AS is_spike
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly flag: each event against its user's trailing
    one-hour mean — value > 3× mean cross-multiplies to
    v·count > 3·sum, so the flag is computed entirely in integers
    (the float-free twin of a rolling z-score; event-time RANGE
    frame over epoch seconds).

    Scale: one shuffle on user_id; the RANGE frame is a sliding
    two-pointer over each user's sorted slice — no self-join, no
    per-row rescan."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _epoch_s("ts").alias("ts_s"),
        (F.col("value").cast("decimal(12,2)") * 1000000).cast("long").alias("v_micro"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-3600, 0)
    return e.select(
        "user_id",
        "event_id",
        "ts_s",
        "v_micro",
        F.sum("v_micro").over(w).alias("win_sum_micro"),
        F.count(F.lit(1)).over(w).alias("win_cnt"),
        (F.col("v_micro") * F.count(F.lit(1)).over(w) > 3 * F.sum("v_micro").over(w)).alias(
            "is_spike"
        ),
    )


@query(
    "scan_json_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           event_type
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
    """,
)
def scan_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured scan through Spark 4's VARIANT type: the JSON
    props column is parsed once into the binary variant encoding and
    fields are extracted with typed ``variant_get`` paths — the
    shredded-lakehouse answer to schemaless columns, vs the
    string-re-parse of ``get_json_object`` (the [[json_extract]] key
    keeps that classic path graded).

    Scale: parse_json is a native expression inside codegen; at rest
    the variant binary is columnar and the extraction cost is paid
    once per row, not once per path."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_id",
        F.parse_json(F.col("props")).alias("pv"),
        "event_type",
    )
    return (
        v.select(
            "event_id",
            F.variant_get(F.col("pv"), "$.k", "bigint").alias("k"),
            "event_type",
        )
        .filter(F.col("k") >= 50)
    )


@query("agg_hll_partitioned")  # sketch bytes are engine-specific — rows-only
def agg_hll_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: a Datasketches HLL sketch of distinct
    customers per 30-day bucket, unioned into a running all-time
    estimate per bucket — the incremental-maintenance pattern where
    each new partition's sketch MERGES with history in O(sketch)
    instead of recounting raw data (the sketch-store twin of
    [[incremental_agg_merge]]).  Estimates are engine-specific →
    rows-only; ±5% accuracy vs exact distinct is asserted in
    tests/test_pipeline.py.

    Scale: per-month sketches are a map-side-combinable agg (fixed
    bytes per group); the cumulative union is a window over ~months
    rows of sketch blobs, never over raw data."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) "
            "- cast(cast(o_orderdate as timestamp) as long) % 2592000"
        ).alias("month_s"),
        "o_custkey",
    )
    monthly = o.groupBy("month_s").agg(
        F.hll_sketch_agg("o_custkey", 12).alias("sk"),
        F.countDistinct("o_custkey").alias("exact_month"),
    )
    w = (
        Window.orderBy("month_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "month_s",
        F.hll_sketch_estimate("sk").alias("est_month"),
        "exact_month",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est_cum"),
    )


_RECURSIVE_SQL = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS custkey, c_custkey AS anc, 0 AS depth FROM customer
  UNION ALL
  SELECT custkey, anc {div} 10, depth + 1 FROM anc WHERE anc > 0
)
SELECT custkey,
       CAST(MAX(depth) AS INT) AS chain_len,
       CAST(SUM(anc) AS BIGINT) AS anc_key_sum
FROM anc GROUP BY custkey
"""


@query("recursive_cte_chain", oracle=_RECURSIVE_SQL.format(div="//"))
def recursive_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (hierarchy walk): each customer's ancestor chain
    under the synthetic parent function ``parent(k) = k div 10`` —
    the org-chart / BOM-traversal shape, expressed with Spark 4's
    ``WITH RECURSIVE`` (iterative union fixpoint inside Catalyst; the
    same loop [[dedup_clusters]] hand-rolls for connected
    components).  The only engine-syntax delta vs the oracle is
    integer division (``div`` / ``//``).

    Scale: recursion depth is the key's digit count (≤7 at any SF) —
    each iteration is one narrow projection+filter pass; state never
    exceeds |customers| × depth rows."""
    from ..sources.tables import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL.format(div="div"))


_LATERAL_SQL = """
SELECT CAST(n.n_nationkey AS INT) AS nationkey, l.c_custkey, l.bal_x100
FROM nation n,
LATERAL (
  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_x100
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY bal_x100 DESC, c_custkey
  LIMIT 2
) l
"""


@query("join_lateral_topn", oracle=_LATERAL_SQL)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: per nation, its two highest-balance
    customers via an ORDER BY … LIMIT subquery correlated on the
    outer row — the SQL-standard per-group top-N that
    [[topk_per_group]] expresses with a window; here the planner
    decorrelates the lateral itself (identical SQL runs in DuckDB).
    Deterministic under balance ties via the custkey tiebreak.

    Scale: Catalyst rewrites the correlated limit into a
    partitioned rank over ONE customer shuffle — no per-nation
    re-scan, no nested loop over the big side."""
    from ..sources.tables import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "source_drift_ks",
    oracle="""
    WITH pv AS (
      SELECT source, CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY source, n_chars
    ), vals AS (
      SELECT DISTINCT v FROM pv
    ), srcs AS (
      SELECT source, SUM(c) AS n_s FROM pv GROUP BY source
    ), tot AS (
      SELECT SUM(c) AS n FROM pv
    ), grid AS (
      SELECT s.source, s.n_s, vv.v FROM srcs s CROSS JOIN vals vv
    ), g AS (
      SELECT grid.source, grid.n_s, grid.v, COALESCE(pv.c, 0) AS c
      FROM grid LEFT JOIN pv ON pv.source = grid.source AND pv.v = grid.v
    ), cum AS (
      SELECT source, n_s, v,
             SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum_s
      FROM g
    ), tv AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cum_all
      FROM (SELECT v, SUM(c) AS c FROM pv GROUP BY v) q
    )
    SELECT cum.source,
           CAST(cum.n_s AS BIGINT) AS n_source,
           CAST(MAX(ABS(cum.cum_s * (tot.n - cum.n_s)
                        - (tv.cum_all - cum.cum_s) * cum.n_s)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(cum.cum_s * (tot.n - cum.n_s)
                        - (tv.cum_all - cum.cum_s) * cum.n_s)) * 10000
                  // (cum.n_s * (tot.n - cum.n_s)) AS BIGINT) AS ks_x10000
    FROM cum JOIN tv ON cum.v = tv.v CROSS JOIN tot
    GROUP BY cum.source, cum.n_s, tot.n
    """,
)
def source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: the two-sample Kolmogorov–Smirnov
    statistic of each source's doc-length distribution against the
    rest of the corpus, in exact cross-multiplied integers
    (sup |ECDF_s − ECDF_rest| ⇔ max |cum_s·n_rest − cum_rest·n_s|,
    emitted in fixed-point x10000) — the pre-training check that a
    new crawl / source hasn't shifted shape before it's mixed in.

    Scale: everything runs on the (source × distinct-length)
    grid — bounded by cardinalities, not rows.  The only
    data-proportional pass is the first per-(source, length) count;
    the deliberate CROSS JOIN is dims-only (|sources| × |lengths|)
    with the value list broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    pv = (
        docs.groupBy("source", F.col("n_chars").cast("long").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vals = pv.select("v").distinct()
    srcs = pv.groupBy("source").agg(F.sum("c").alias("n_s"))
    tot = pv.agg(F.sum("c").alias("n"))
    grid = srcs.crossJoin(F.broadcast(vals))
    g = grid.join(pv, ["source", "v"], "left").select(
        "source", "n_s", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    w_s = Window.partitionBy("source").orderBy("v")
    cum = g.select("source", "n_s", "v", F.sum("c").over(w_s).alias("cum_s"))
    tv = (
        pv.groupBy("v")
        .agg(F.sum("c").alias("c"))
        .select("v", F.sum("c").over(Window.orderBy("v")).alias("cum_all"))
    )
    num = F.abs(
        F.col("cum_s") * (F.col("n") - F.col("n_s"))
        - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
    )
    return (
        cum.join(F.broadcast(tv), "v")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s", "n")
        .agg(F.max(num).alias("ks_num"))
        .select(
            "source",
            F.col("n_s").alias("n_source"),
            "ks_num",
            F.expr("ks_num * 10000 div (n_s * (n - n_s))").alias("ks_x10000"),
        )
    )


@query(
    "event_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS value_x100
      FROM events
    ), w AS (
      SELECT *,
             MAX(CASE WHEN event_type = 'view' THEN ts_s END)
               OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_view_s
      FROM e
    )
    SELECT user_id, event_id, ts_s, value_x100, last_view_s,
           (last_view_s IS NOT NULL AND ts_s - last_view_s <= 86400) AS attributed
    FROM w WHERE event_type = 'purchase'
    """,
)
def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase linked to the user's most
    recent STRICTLY-earlier view (conversion window 24 h) — the
    marketing-analytics join expressed as one running conditional MAX
    over the user's timeline instead of an event×event self-join.
    Ordering ties break on event_id, so the strictly-preceding frame
    is deterministic in both engines.

    Scale: one user_id shuffle, one ordered pass; the self-join
    formulation this replaces fans out |views|×|purchases| per user.
    The as-of-join twin ([[join_asof_tolerance]]) covers the generic
    two-table case; this key is the single-stream windowed form."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        _epoch_s("ts").alias("ts_s"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("long").alias("value_x100"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("ts_s"))
    ).over(w)
    return (
        e.withColumn("last_view_s", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts_s",
            "value_x100",
            "last_view_s",
            (
                F.col("last_view_s").isNotNull()
                & ((F.col("ts_s") - F.col("last_view_s")) <= 86400)
            ).alias("attributed"),
        )
    )


@query(
    "agg_filtered_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_discount AS DECIMAL(3,2)) * 10000 AS BIGINT))
                AS BIGINT) AS revenue_x10000,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate < TIMESTAMP '2000-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def agg_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting-revenue-change shape (TPC-H Q6): a pure
    filter-and-sum — no join, no group-by — the canonical test that
    ALL predicates push to the scan and the aggregation is one
    map-side-combined pass.

    Scale: the year bound prunes row groups via footer stats; the
    single-row result means shuffle traffic is one partial per task."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_quantity") < 24)
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * F.col("l_discount").cast("decimal(3,2)")
        * 10000
    ).cast("long")
    return li.agg(
        F.sum(rev).alias("revenue_x10000"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "multi_join_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS order_year,
           CAST(SUM(CAST((CAST(l.l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
                          - CAST(p.p_retailprice AS DECIMAL(12,2))
                            * CAST(l.l_quantity AS DECIMAL(7,2))) * 10000 AS BIGINT))
                AS BIGINT) AS profit_x10000
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def multi_join_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type-profit shape (TPC-H Q9): profit (discounted revenue
    minus supply cost, here part retail price × quantity standing in
    for ps_supplycost) by supplier nation and order year, restricted
    to a part-name pattern.

    Scale: the part-name filter rides the broadcast of part (shrinking
    lineitem early), supplier→nation is a second broadcast chain, and
    lineitem⋈orders is the one big orderkey shuffle; the group-by is
    25 nations × ~7 years."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear")).select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    profit = (
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(3,2)"))
            - F.col("p_retailprice").cast("decimal(12,2)")
            * F.col("l_quantity").cast("decimal(7,2)")
        )
        * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(F.sum(profit).alias("profit_x10000"))
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS ev
      FROM embeddings
    ), a AS (
      SELECT vec_id, ev,
             list_max(list_transform(ev, x -> ABS(x))) AS amax,
             len(ev) AS n_dims
      FROM e
    )
    SELECT vec_id,
           CAST(amax AS BIGINT) AS amax_q4,
           CAST(n_dims AS INT) AS n_dims,
           CAST(list_sum(list_transform(ev,
                  x -> (ABS(x) * 127 + amax // 2) // amax)) AS BIGINT) AS sum_q,
           CAST(list_sum(list_transform(ev,
                  x -> ABS(ABS(x) * 127
                           - ((ABS(x) * 127 + amax // 2) // amax) * amax)))
                AS BIGINT) AS err_num_sum
    FROM a WHERE amax > 0
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit over the embedding corpus —
    the compression step a vector store applies before indexing.  Per
    vector: the 1e-4-quantized max magnitude (the scale), the summed
    int8 magnitudes, and the EXACT total rounding error in integer
    numerator units (|a·127 − q·amax| per element, so error/127/amax
    is the relative error — no float ever crosses the engine
    boundary; magnitudes are non-negative so Spark's truncating `div`
    and DuckDB's flooring `//` agree).

    Scale: per-row higher-order transforms/aggregate — shuffle-free,
    scan-speed, no explode fan-out."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn(
            "ev",
            F.expr("transform(embedding, v -> cast(floor(cast(v as double) * 10000) as bigint))"),
        )
        .withColumn("amax_q4", F.expr("array_max(transform(ev, x -> abs(x)))"))
        .filter(F.col("amax_q4") > 0)
        .select(
            "vec_id",
            "amax_q4",
            F.size("ev").cast("int").alias("n_dims"),
            F.expr(
                "aggregate(ev, 0L, (acc, x) ->"
                " acc + (abs(x) * 127 + amax_q4 div 2) div amax_q4)"
            ).alias("sum_q"),
            F.expr(
                "aggregate(ev, 0L, (acc, x) ->"
                " acc + abs(abs(x) * 127"
                " - ((abs(x) * 127 + amax_q4 div 2) div amax_q4) * amax_q4))"
            ).alias("err_num_sum"),
        )
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT)) AS last_order_s,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
               AS spend_x100
      FROM orders GROUP BY o_custkey
    )
    SELECT custkey, last_order_s, n_orders, spend_x100,
           CAST(NTILE(4) OVER (ORDER BY last_order_s DESC, custkey) AS INT) AS r_score,
           CAST(NTILE(4) OVER (ORDER BY n_orders DESC, custkey) AS INT) AS f_score,
           CAST(NTILE(4) OVER (ORDER BY spend_x100 DESC, custkey) AS INT) AS m_score
    FROM base
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer recency (last order), frequency
    (order count) and monetary (lifetime cents), each quartile-scored
    1–4 — the standard CRM / cohort-targeting rollup.  NTILE orderings
    carry the custkey tiebreak, so scores are deterministic in both
    engines.

    Scale: one shuffle for the per-customer agg.  Each NTILE runs
    via the range-partitioned global-rank operator
    (operators/rankstats.py, round 15) — three parallel ranked
    passes over the customer aggregate joined back on custkey,
    instead of three single-partition windows that would each funnel
    a billion-customer dim into one task.  Facts are never globally
    sorted."""
    from ..operators.dedup import _materialized
    from ..operators.rankstats import RN, global_order_stats, ntile_from_rank

    o = load_table(spark, sf_dir, "orders")
    # materialized once: the aggregate feeds three ranked passes plus
    # the output projection (four plan branches)
    base = _materialized(
        o.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.max(_epoch_s("o_orderdate")).alias("last_order_s"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
            ).alias("spend_x100"),
        )
    )
    out = base
    for score, order in (
        ("r_score", [F.desc("last_order_s"), F.asc("custkey")]),
        ("f_score", [F.desc("n_orders"), F.asc("custkey")]),
        ("m_score", [F.desc("spend_x100"), F.asc("custkey")]),
    ):
        ranked, totals = global_order_stats(base, order)
        scored = ranked.select(
            "custkey",
            ntile_from_rank(4, totals["rows"], RN).cast("int").alias(score),
        )
        out = out.join(scored, "custkey")
    return out.select(
        "custkey", "last_order_s", "n_orders", "spend_x100",
        "r_score", "f_score", "m_score",
    )


def _binfiles_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per corpus digest + code version) the bounded
    .bin fixture set shared by [[scan_binary_files]] and
    [[stream_file_intake]]; returns its directory.  Both keys derive
    the path from THIS function so the versioned tag can never skew
    between them."""
    import os

    from ..sources.layout import materialize, versioned_scratch_tag

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 100)
            .select("doc_id", "text")
            .collect()  # bounded: 100 fixture files
        )
        for r in rows:
            with open(os.path.join(tmp, f"{r.doc_id:06d}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))

    return materialize(scratch_path("binfiles", versioned_scratch_tag(sf_dir, _binfiles_fixture)), write)


@query(
    "scan_binary_files",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id < 100
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary intake: Spark's ``binaryFile`` source — the
    real ingestion path for image/audio assets (one row per file:
    path, length, content bytes) feeding the multimodal pipeline
    ([[multimodal_decode]] etc.).  A bounded fixture set (100 docs'
    UTF-8 bytes as .bin files, materialized once per corpus digest)
    is read back and digest-checked against the original parquet via the
    oracle, proving byte-exact intake.

    Scale: binaryFile scans parallelize per file and push no row
    filters — partition by directory layout instead; content bytes
    stay columnar Arrow until the consuming UDF.  Corpus text is
    ASCII-safe here so byte length equals n_chars."""
    path = _binfiles_fixture(spark, sf_dir)
    files = spark.read.format("binaryFile").load(f"{path}/*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "stream_file_intake",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id < 100
    """,
)
def stream_file_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal intake, graded end-to-end: the binary
    fixture files from [[scan_binary_files]] are consumed as a
    ``binaryFile`` FILE-SOURCE STREAM (the production pattern for
    tailing a landing bucket of media assets), drained with
    Trigger.AvailableNow into a memory sink, and digest-compared
    against the same batch oracle — streaming ingestion is byte-exact
    with batch.

    Scale: file-source streams checkpoint the processed-file log, so
    an unbounded landing directory is ingested incrementally with
    exactly-once file accounting; maxFilesPerTrigger bounds each
    micro-batch."""
    # reuse (or create) the bounded fixture set
    path = _binfiles_fixture(spark, sf_dir)
    tag = corpus_tag(sf_dir)
    # file-source streams need the schema declared up front (no
    # inference on unbounded input); binaryFile's schema is fixed
    bin_schema = (
        "path string, modificationTime timestamp, length long, content binary"
    )
    stream = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
    )
    from ..streaming.sinks import drain_to_memory

    return drain_to_memory(stream, f"stream_files_{tag}", "append")


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             CAST(tf.tf * n.n_docs * 1000 // df.df AS BIGINT) AS score_milli
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_milli DESC, tok ASC) AS rn
      FROM scored
    )
    SELECT doc_id, tok, tf, df, score_milli
    FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by TF-IDF with
    a linear inverse-document-frequency (score = tf · N/df in exact
    fixed-point milli-units) — the log-free variant that preserves the
    classic ranking's shape while staying engine-exact (ln() is not
    bit-portable; the integer score is, and the term tiebreak makes
    the top-3 deterministic).

    Scale: one token shuffle for TF, a re-agg of TF for DF (never a
    second corpus scan), an equi-join back on token, and a per-doc
    window — the same shape TF-IDF takes in any distributed engine.
    The single-row N broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.expr("tf * n_docs * 1000 div df").alias("score_milli"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_milli"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", "score_milli")
    )


@query(
    "event_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT),
                                             event_id) AS next_type
      FROM events
    ), t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n,
           CAST(n * 10000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
             AS prob_bp
    FROM t
    """,
)
def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: counts and integer-basis-point probabilities of
    event-type A → B steps — the user-journey model behind
    next-action prediction and funnel design ([[event_paths_topk]]
    mines full 3-step sequences; this is the normalized one-step
    matrix).  The (ts, event_id) ordering tiebreak makes LEAD
    deterministic; row probabilities are cross-multiplied integers.

    Scale: one user_id shuffle for the LEAD pass; the matrix agg and
    its row-normalizing window both run on ≤|types|² rows."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", _epoch_s("ts").alias("ts_s"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    s = e.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    t = s.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000 div sum(n) over (partition by from_type)").alias("prob_bp"),
    )


@query(
    "lang_id_confusion",
    oracle="""
    WITH g AS (
      SELECT lang,
             CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                  WHEN len(list_filter(string_split(text, ' '),
                       w -> list_contains(['the','a','of','and','to','in'], w))) >= 1 THEN 'en'
                  ELSE 'und' END AS lang_guess
      FROM documents
    )
    SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 10000 // SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT)
             AS share_bp
    FROM g GROUP BY lang, lang_guess
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QA: the confusion matrix between each document's
    declared language and the [[text_lang_id]] heuristic's guess,
    with per-declared-language shares in integer basis points — the
    evaluation every model-derived label column needs before it
    gates a corpus at scale.

    Scale: one (lang, guess) agg — ≤|langs|² rows — plus a window on
    that tiny matrix; the heuristic itself is expression-only at
    scan speed."""
    from ..functions.text import lang_guess

    d = load_table(spark, sf_dir, "documents")
    g = d.select("lang", lang_guess("text").alias("lang_guess"))
    return (
        g.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "lang",
            "lang_guess",
            "n",
            F.expr("n * 10000 div sum(n) over (partition by lang)").alias("share_bp"),
        )
    )


@query("agg_kll_quantiles")  # sketch estimates are engine-specific — rows-only
def agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch rollup (Datasketches KLL, native in
    Spark 4.1): a per-30-day-bucket KLL sketch of order cents, plus a
    running all-time P50/P95 from the cumulative sketch merge — the
    quantile twin of [[agg_hll_partitioned]].  This is how a 100 TB
    metrics store serves "median latency this month AND all-time"
    without ever rescanning history: each new partition contributes a
    KLL blob, merges are O(sketch).

    Rank accuracy (~1.7% at default k) vs the exact per-bucket median
    is asserted in tests/test_pipeline.py; estimates are
    engine-specific, so the driver check is rows-only."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) "
            "- cast(cast(o_orderdate as timestamp) as long) % 2592000"
        ).alias("month_s"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").alias("cents"),
    )
    monthly = o.groupBy("month_s").agg(
        F.kll_sketch_agg_bigint("cents").alias("sk"),
        F.expr("CAST(percentile(cents, 0.5) AS BIGINT)").alias("exact_p50"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = (
        Window.orderBy("month_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.kll_merge_agg_bigint("sk").over(w)
    return monthly.select(
        "month_s",
        "n_orders",
        "exact_p50",
        F.kll_sketch_get_quantile_bigint("sk", F.lit(0.5)).alias("est_p50"),
        F.kll_sketch_get_quantile_bigint(cum, F.lit(0.5)).alias("cum_p50"),
        F.kll_sketch_get_quantile_bigint(cum, F.lit(0.95)).alias("cum_p95"),
    )


@query("agg_theta_customer_overlap")  # sketch estimates — rows-only
def agg_theta_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set ALGEBRA on sketches (Datasketches Theta, native in
    Spark 4.1): per-30-day-bucket customer sketches, then
    month-over-month INTERSECTION (returning customers), DIFFERENCE
    (new customers), and UNION estimates — the operations HLL cannot
    express (HLL only unions).  At 100 TB this answers
    retention/overlap questions from O(sketch) blobs instead of a
    self-join over two months of raw facts.

    Estimate accuracy vs exact distinct intersections is asserted in
    tests/test_pipeline.py; rows-only at the driver gate."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) "
            "- cast(cast(o_orderdate as timestamp) as long) % 2592000"
        ).alias("month_s"),
        "o_custkey",
    )
    m = o.groupBy("month_s").agg(F.theta_sketch_agg("o_custkey").alias("sk"))
    cur = m.select(F.col("month_s"), F.col("sk").alias("cur_sk"))
    prev = m.select(
        (F.col("month_s") + 2592000).alias("month_s"), F.col("sk").alias("prev_sk")
    )
    return (
        cur.join(prev, "month_s")
        .select(
            "month_s",
            F.theta_sketch_estimate("prev_sk").cast("long").alias("est_prev"),
            F.theta_sketch_estimate("cur_sk").cast("long").alias("est_cur"),
            F.theta_sketch_estimate(F.theta_intersection("prev_sk", "cur_sk"))
            .cast("long")
            .alias("est_returning"),
            F.theta_sketch_estimate(F.theta_difference("cur_sk", "prev_sk"))
            .cast("long")
            .alias("est_new"),
            F.theta_sketch_estimate(F.theta_union("prev_sk", "cur_sk"))
            .cast("long")
            .alias("est_union"),
        )
    )


@query(
    "orders_fulfillment_lag",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey,
             MIN(CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400) AS ship_day
      FROM lineitem GROUP BY l_orderkey
    ), lag AS (
      SELECT o.o_orderpriority,
             f.ship_day - (CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT) // 86400)
               AS lag_days
      FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(lag_days) AS BIGINT) AS min_days,
           CAST(MAX(lag_days) AS BIGINT) AS max_days,
           CAST(SUM(lag_days) * 1000 // COUNT(*) AS BIGINT) AS avg_days_milli
    FROM lag GROUP BY o_orderpriority
    """,
)
def orders_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency by order priority: whole days from order
    date to the order's FIRST shipment (min/max plus an exact
    fixed-point average) — the operational SLA readout that tells you
    whether 1-URGENT actually ships faster.

    Scale: first-ship is a map-side-combined MIN per orderkey (one
    shuffle on the fact key), then a broadcast-joined rollup into five
    priority rows; day arithmetic is exact integer epoch division."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(FLOOR(cast(cast(l_shipdate as timestamp) as double)) AS BIGINT) DIV 86400").alias(
            "ship_day"
        ),
    )
    first_ship = li.groupBy("l_orderkey").agg(F.min("ship_day").alias("ship_day"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(FLOOR(cast(cast(o_orderdate as timestamp) as double)) AS BIGINT) DIV 86400").alias(
            "order_day"
        ),
    )
    lag = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey).select(
        "o_orderpriority", (F.col("ship_day") - F.col("order_day")).alias("lag_days")
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("lag_days").cast("long").alias("min_days"),
        F.max("lag_days").cast("long").alias("max_days"),
        F.expr("CAST(SUM(lag_days) * 1000 DIV COUNT(*) AS BIGINT)").alias(
            "avg_days_milli"
        ),
    )


@query(
    "agg_decile_profile",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), d AS (
      SELECT o_custkey, cents,
             ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
      FROM c
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(SUM(cents)) OVER (ORDER BY decile) AS BIGINT) AS cum_cents
    FROM d GROUP BY decile
    """,
)
def agg_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile: customers ranked by
    exact lifetime cents, NTILE(10) with a custkey tie-break, per-
    decile and cumulative revenue — the full concentration curve
    behind "top 10% of customers drive X%" ([[pareto_revenue_share]]
    answers the inverse question: the smallest set covering a
    target).

    Scale: one hash agg per customer; the global NTILE over the
    customer aggregate runs via the range-partitioned global-rank
    operator (operators/rankstats.py, round 15 — a parallel ranked
    pass with broadcast offsets, never a single-partition window over
    |customers| rows), then a 10-row rollup + running sum."""
    from ..operators.rankstats import global_order_stats, ntile_from_rank

    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    ranked, totals = global_order_stats(c, [F.desc("cents"), F.asc("o_custkey")])
    d = ranked.withColumn("decile", ntile_from_rank(10, totals["rows"]))
    per = d.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n_customers",
        "cents",
        F.sum("cents").over(wc).cast("long").alias("cum_cents"),
    )


@query(
    "join_customer_360",
    oracle="""
    WITH ord AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
             CAST(MAX(CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400) AS BIGINT)
               AS last_order_day
      FROM orders GROUP BY o_custkey
    ), ev AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchases
      FROM events GROUP BY user_id
    )
    SELECT c.c_custkey, n.n_name AS nation, c.c_mktsegment,
           CAST(COALESCE(ord.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(ord.cents, 0) AS BIGINT) AS lifetime_cents,
           CAST(COALESCE(ord.last_order_day, -1) AS BIGINT) AS last_order_day,
           CAST(COALESCE(ev.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(ev.n_purchases, 0) AS BIGINT) AS n_purchases
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN ord ON ord.o_custkey = c.c_custkey
    LEFT JOIN ev ON ev.user_id = c.c_custkey
    """,
)
def join_customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-360 serving table: one row per customer denormalizing
    the dimension (nation, segment) with order-fact rollups (count,
    exact lifetime cents, last order day) and event-fact rollups
    (activity, purchases) — the materialization every feature store /
    CRM serving layer builds nightly.  Customers with no orders or no
    events survive with zero-filled metrics (LEFT joins — silent
    inner-join shrinkage is the classic 360 bug).

    Scale: each fact table pre-aggregates to one row per customer
    BEFORE joining (shuffle on the fact key once, map-side combined),
    then the joins are dimension-sized and broadcast; the wide row is
    assembled without ever joining raw facts to raw facts."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ords = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.max(
                F.expr(
                    "CAST(FLOOR(cast(cast(o_orderdate as timestamp) as double)) AS BIGINT) DIV 86400"
                )
            ).alias("last_order_day"),
        )
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        )
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(ords, cust.c_custkey == ords.o_custkey, "left")
        .join(ev, cust.c_custkey == ev.user_id, "left")
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("cents", F.lit(0)).cast("long").alias("lifetime_cents"),
            F.coalesce("last_order_day", F.lit(-1)).cast("long").alias("last_order_day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("n_purchases", F.lit(0)).cast("long").alias("n_purchases"),
        )
    )


@query(
    "agg_order_fanout_hist",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_items,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM per_order GROUP BY n_items
    """,
)
def agg_order_fanout_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out distribution: how many line items each order has
    — the statistic that justifies every orders⋈lineitem cost
    estimate in this repo (bounded fan-out claims, interval-join 2x
    bounds, salting thresholds).  Two map-side-combined aggregations,
    output is a ~7-row histogram at any scale."""
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    return per_order.groupBy(F.col("n_items").cast("long").alias("n_items")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "text_bigram_lm_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), b AS (
      SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
      FROM t, UNNEST(range(1, len(w))) AS u(i)
    ), f AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS freq FROM b GROUP BY bg
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(f.freq) AS BIGINT) AS freq_sum,
           CAST(SUM(f.freq) * 1000 // COUNT(*) AS BIGINT)
             AS lm_score_milli
    FROM b JOIN f USING (bg)
    GROUP BY b.doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score — the order-sensitive tier above
    [[text_rarity_score]] (unigram): each document's mean corpus
    frequency of its adjacent word PAIRS, fixed-point milli-units.
    Common collocations score high, word-salad (frequent words in
    improbable order — spam keyword stuffing, shuffled scrape debris)
    scores LOW even when every unigram is common; that ordering is
    what CCNet-style LM-perplexity filters rank by, here in the
    log-free exact-integer form the round-3 portability contract
    requires (monotone-identical ranking, no ln()).  Docs with fewer
    than two tokens have no bigrams and are absent on both sides.

    Scale: one transform builds per-doc bigram arrays in the scan
    (no self-join of token positions), explode → one bigram shuffle
    for the corpus frequency table → equi-join back → per-doc re-agg;
    identical plan shape to [[text_rarity_score]], whose stopword-
    pair skew note (AQE skew-split) applies verbatim.  The ×1000
    fixed-point step goes through a PER-GROUP decimal(28,0) cast
    (round 12, ADVICE): the oracle multiplies in HUGEINT, so a 64-bit
    engine-side product would hit its ceiling at freq_sum ≈ 9.2e15
    while the oracle kept going — a scalar cast per output row, not a
    per-row wide accumulation (A/B'd: decimal(28,0) SUMS cost +52%
    at sf0.1 for headroom the BIGINT freq_sum output contract cannot
    use anyway — both engines fail its cast at ~9.2e18, the
    documented shared ceiling, like [[agg_group]]'s ×10^s note)."""
    docs = load_table(spark, sf_dir, "documents")
    bg = F.expr(
        "transform(slice(w, 1, size(w) - 1),"
        " (x, i) -> concat(x, ' ', element_at(w, i + 2)))"
    )
    b = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(bg).alias("bg"))
    )
    f = b.groupBy("bg").agg(F.count(F.lit(1)).alias("freq"))
    return (
        b.join(f, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("freq").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "freq_sum",
            F.expr(
                "CAST(freq_sum AS DECIMAL(28,0)) * 1000 div n_bigrams"
            ).alias("lm_score_milli"),
        )
    )


@query(
    "text_bigram_lm_incremental",
    oracle="""
    WITH doc AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             left(md5(CAST(doc_id AS VARCHAR)), 1) < 'c' AS is_base
      FROM documents
    ), b AS (
      SELECT doc_id, is_base, w[i] || ' ' || w[i + 1] AS bg
      FROM doc, UNNEST(range(1, len(w))) AS u(i)
    ), lm AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS freq
      FROM b WHERE is_base GROUP BY bg
    ), nb AS (
      SELECT doc_id, bg FROM b WHERE NOT is_base
    )
    SELECT nb.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(SUM(lm.freq), 0) AS BIGINT) AS freq_sum,
           CAST(COUNT(*) FILTER (WHERE lm.freq IS NULL) AS BIGINT)
             AS oov_bigrams,
           CAST(COALESCE(SUM(lm.freq), 0) * 1000 // COUNT(*) AS BIGINT)
             AS lm_score_milli
    FROM nb LEFT JOIN lm USING (bg)
    GROUP BY nb.doc_id
    """,
)
def text_bigram_lm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental bigram-LM scoring under a PERSISTED, FIXED model
    (round 12 — the scoring twin of [[dedup_substring_incremental]]
    and the production shape of [[text_bigram_lm_score]]): the bigram
    frequency table is trained ONCE over the ingested base (the same
    md5(doc_id) < 'c' split as [[dedup_incremental]]) and materialized
    as a bucketed-by-bg layout; each new shard is then scored under
    that fixed LM — per delta document, bigram count, summed base
    frequencies (unseen-in-base pairs count 0), OOV bigram count, and
    the fixed-point milli-unit mean.  This is the CCNet/KenLM
    workflow: the model does NOT drift as the corpus grows, so scores
    are comparable across shards and over time — a semantic property,
    not just a cost saving, pinned by the planted pytest that mutates
    the base AFTER training and asserts identical scores.

    Scale: the base is tokenized once per corpus+code version into
    the frequency layout (one bigram shuffle, at TRAIN time); per
    shard the work is O(delta + probe) — generator bigram expansion
    in the scan, one delta-sized shuffle onto the layout's bucket
    hash, LEFT equi-join that is exchange-free on the (bucket-sorted)
    LM side.  Stopword-pair skew is AQE skew-split territory, the
    [[text_rarity_score]] note; the ×1000 step goes through the same
    per-group decimal(28,0) cast as the batch key."""
    from ..sources.layout import scratch_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    h1 = F.md5(F.col("doc_id").cast("string").cast("binary")).substr(1, 1)
    bg = F.expr(
        "transform(slice(w, 1, size(w) - 1),"
        " (x, i) -> concat(x, ' ', element_at(w, i + 2)))"
    )

    def build_lm() -> DataFrame:
        base_bg = (
            docs.filter(h1 < "c")
            .select(F.split("text", " ").alias("w"))
            .select(F.explode(bg).alias("bg"))
        )
        return base_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("freq"))

    lm, _ = scratch_bucketed_table(
        spark,
        "bglm",
        sf_dir,
        build_lm,
        key="bg",
        n_buckets=32,
        schema_sql="bg STRING, freq BIGINT",
        fns=(text_bigram_lm_incremental,),
    )
    nb = (
        docs.filter(h1 >= "c")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.explode(bg).alias("bg"))
    )
    return (
        nb.join(lm, "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce("freq", F.lit(0))).alias("freq_sum"),
            F.count(F.when(F.col("freq").isNull(), 1)).alias("oov_bigrams"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "freq_sum",
            "oov_bigrams",
            F.expr(
                "CAST(freq_sum AS DECIMAL(28,0)) * 1000 div n_bigrams"
            ).alias("lm_score_milli"),
        )
    )
