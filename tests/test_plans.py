"""Physical-plan shape assertions — the scale guarantees the operator
docstrings promise, enforced mechanically:

- filters/projections reach the parquet scan (pushdown + pruning);
- small dimension sides broadcast; EXISTS decorrelates to a semi join;
- no operator ever plans a cartesian product / nested-loop join;
- nothing outside the multimodal ops crosses into Python.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent
QUERIES = entry_mod.queries()

# Only the sanctioned Arrow hops may appear python-side: multimodal
# decode (no JVM codec) and LSH embedding math (batched numpy matmul
# beats the interpreted per-element fold; exact oracle-checked tiers
# stay native for cross-engine summation-order parity).
PY_ALLOWED = {k for k in QUERIES if k.startswith("multimodal_")} | {
    "udaf_trimmed_mean",  # grouped-agg pandas UDF — the integration under test
    "dedup_embed_lsh",
    "dedup_embed_incremental",  # hyperplane signing — same pd_signature Arrow hop as dedup_embed_lsh
    "dedup_embed_incremental_summary",  # same scoring core (_emb_inc_scored) as the pair key
    "embed_ann_lsh",
    "embed_ann_ivf",
    "embed_cosine_topk",  # Arrow einsum scoring; oracle-verified post-rounding
    "embed_pca_project",  # Gram partials + broadcast matmul — sanctioned Arrow hop
    "seq_lis_per_user",  # order-dependent DP — the sanctioned applyInPandas hop
    "embed_ann_pq",  # PQ codebook encode/ADC scan — sanctioned Arrow hops
    "embed_ann_ivfpq",  # IVF coarse assign + PQ ADC — same sanctioned Arrow hops
    "embed_knn_classify",  # votes over the Arrow-scored topk — same hop as embed_cosine_topk
    "scan_tablelog_datasource",  # Python DataSource scan — the integration under test
    "cogroup_order_reconcile",  # cogroup().applyInPandas — the integration under test
    "udtf_sentence_split",  # Python UDTF lateral join — the integration under test
    "udtf_dynamic_melt",  # polymorphic UDTF (analyze) — the integration under test
    "token_heavy_hitters",  # MG sketch candidate pass — exact verify makes it oracle-checked
}


def _plan(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_parquet_pushdown_and_pruning(spark):
    plan = _plan(spark, "scan_parquet")
    assert "PushedFilters: [IsNotNull" in plan or "PushedFilters: [" in plan
    # projection pruned to the selected + filtered columns only
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_returnflag" not in read and "l_tax" not in read


def test_join_broadcast_actually_broadcasts(spark):
    assert "BroadcastHashJoin" in _plan(spark, "join_broadcast")


def test_subquery_exists_decorrelates_to_semi_join(spark):
    plan = _plan(spark, "subquery_exists")
    assert "LeftSemi" in plan


def test_no_cartesian_or_nested_loop_in_scalable_tiers(spark):
    # every pairwise-dedup / LSH operator must candidate-generate via
    # hash joins; a nested loop or cartesian product means the plan
    # degenerated to O(n^2) shuffle-free compute on one task
    for key in ["dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
                "dedup_embed_lsh", "embed_ann_lsh"]:
        plan = _plan(spark, key)
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


@pytest.mark.parametrize("key", sorted(set(QUERIES) - PY_ALLOWED))
def test_no_python_in_jvm_operators(spark, key):
    plan = _plan(spark, key)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                   "MapInArrow"):
        assert marker not in plan, f"{key} crossed into Python via {marker}"


def test_window_lag_single_window_pass(spark):
    plan = _plan(spark, "window_lag")
    assert plan.count("Window ") + plan.count("WindowExec") >= 1
    # lag and lead share one window spec → exactly one Window operator
    assert plan.count("lag(") == 1 and plan.count("lead(") == 1


def test_dim_snapshot_dwell_schema_evolution_invariants(spark):
    """Structural checks for the temporal-join / evolution keys
    (values are oracle-checked in test_correctness)."""
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.sources.tables import load_table

    n_purchase = (
        load_table(spark, SF_DIR, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    snap = QUERIES["join_dim_snapshot"](spark, SF_DIR)
    # time intervals partition per-user time: exactly one version/event,
    # and a purchase's own interval is by construction a purchase run
    assert snap.count() == n_purchase
    assert snap.filter(F.col("status") != "purchase").count() == 0

    evo = QUERIES["schema_evolution_scan"](spark, SF_DIR)
    # the evolved column is NULL exactly for the old-schema batch
    assert evo.filter(F.col("n_chars").isNull()).count() == evo.filter(
        F.col("doc_id") % 2 == 0
    ).count()

    dwell = QUERIES["event_dwell_time"](spark, SF_DIR).collect()
    for r in dwell:
        assert r.n_followed > 0 and r.total_dwell_s >= 0
        assert r.avg_dwell_s * r.n_followed <= r.total_dwell_s


def test_dpp_join_actually_prunes_partitions(spark):
    """The DPP key's executed plan carries a dynamic pruning filter on
    the partitioned fact scan — the runtime partition skip the key
    exists to demonstrate."""
    plan = _plan(spark, "join_dpp_prune").lower()
    assert "dynamicpruning" in plan


def test_aqe_skew_join_actually_splits(spark):
    """Mechanical proof of the AQE claim the scale docs make: a sort-
    merge join against a pathologically skewed fact side (90% of rows
    on one key, skewed partition forced far above the split
    threshold) is re-planned at runtime with `isSkew = true` reads —
    Spark splits the hot partition instead of letting one task carry
    the stage."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        fact = spark.range(100_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(200_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = fact.join(dim, "k")
        # the action must run THIS Dataset's QueryExecution — AQE
        # finalizes (and records the skew split) only on execution,
        # and df.count() would execute a different (grouped) plan
        assert len(joined.collect()) == 100_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# BroadcastNestedLoopJoin is legitimate ONLY when the build side is a
# broadcast single-row scalar (share-of-total, thresholds), a bounded
# query/dim batch, or a documented exact-baseline tier.  Everything
# else must candidate-generate via hash joins.
BNLJ_ALLOWED = {
    "agg_antijoin_avg",  # scalar avg threshold broadcast
    "agg_share_having",  # single-row total re-agg
    "array_explode_outer",  # single-row conservation count (round 15, replaced the 1p window)
    "constraint_check",  # scalar domain bounds
    "dedup_embed_cosine",  # documented O(n^2) exact baseline tier
    "embed_cosine_topk",  # bounded query batch broadcast
    "embed_knn_classify",  # same bounded batch as embed_cosine_topk
    "embed_matryoshka_overlap",  # same bounded query batch broadcast
    "event_cooccurrence",  # single-row basket total
    "event_error_hotspots",  # scalar global baseline rate
    "event_user_churn",  # scalar event-frontier timestamp
    "join_range",  # broadcast bounded dim, non-equi by design
    "key_skew_profile",  # single-row total for share computation
    "orders_backlog_aging",  # scalar newest-order date
    "pareto_revenue_share",  # single-row revenue total
    "source_drift_ks",  # scalar corpus-wide totals
    "text_tfidf_topk",  # single-row corpus doc count (IDF)
    "token_heavy_hitters",  # single-row token total (threshold)
    # round-7 mlcorpus keys — all scalar/bounded broadcasts:
    "dedup_semantic_cluster",  # K=8-row seed-centroid broadcast (O(n·K))
    "dedup_survivorship",  # three single-row stage-count broadcasts
    "mix_temperature_weights",  # single-row sqrt-mass total
    "source_token_tv_drift",  # single-row corpus token total
    "lang_balance_resample",  # single-row min-language target
    # round-7b metrics keys — scalar/bounded broadcasts:
    "calibration_bins",  # single-row min/max score limits broadcast
    "embed_silhouette",  # K=8-row seed-centroid broadcast (O(n·K))
    "events_control_chart",  # single-row corpus-total broadcast
    # round-7c:
    "graph_triangle_count",  # two single-row count broadcasts into the summary row
    # round-8 insights keys — scalar/bounded broadcasts:
    "join_key_skew_topn",  # single-row join-total broadcast (ppm share)
    "graph_connected_components",  # two single-row count broadcasts into the summary row
    "events_anomaly_mad",  # two single-row statistics (median, MAD) broadcast back
    "customer_churn_by_segment",  # single-row corpus-frontier timestamp broadcast
    # round-9:
    "graph_cc_alternating",  # two single-row count broadcasts into the summary row
    "events_seasonal_residual_anomaly",  # single-row median/MAD broadcasts
    "discount_theilsen_slope",  # O(d^2) pairwise join over the ~11-row discount domain
    "graph_kcore",  # two single-row count broadcasts into the summary row
    "events_value_halflife",  # single-row corpus-frontier timestamp broadcast
    "grid_dbscan_core",  # two single-row count broadcasts into the summary row
    # round-11:
    "split_time_holdout",  # single-row event-frontier timestamp broadcast
}


def test_registry_wide_no_cartesian_and_bounded_bnlj(spark):
    """Every registered key's physical plan is free of CartesianProduct,
    and BroadcastNestedLoopJoin appears only in the sanctioned
    scalar/bounded set above — the registry-wide form of the per-family
    spot checks, so a new operator can't silently plan an O(n^2) join."""
    offenders_cartesian, offenders_bnlj = [], []
    for key in QUERIES:
        plan = _plan(spark, key)
        if "CartesianProduct" in plan:
            offenders_cartesian.append(key)
        if "BroadcastNestedLoopJoin" in plan and key not in BNLJ_ALLOWED:
            offenders_bnlj.append(key)
    assert not offenders_cartesian, offenders_cartesian
    assert not offenders_bnlj, offenders_bnlj


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """Second mechanical AQE proof: a join the static planner costs as
    sort-merge (broadcast threshold too small for the ESTIMATED size)
    finalizes as a BroadcastHashJoin once runtime stats reveal the
    filtered side is tiny — the re-plan that saves the shuffle on a
    real cluster when estimates are wrong."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
        big = spark.range(300_000).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("p")
        )
        # statically ~300k rows (over threshold); at runtime the filter
        # leaves 100 rows — far under it
        small = spark.range(300_000).filter(F.col("id") % 3000 == 0).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = big.join(small, "k")
        assert len(joined.collect()) == 100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "BroadcastHashJoin" in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


# Unpartitioned-window audit (round 15): every key
# whose executed plan contains a Window with an EMPTY partition spec
# must have an a-priori-bounded window domain — never one that grows
# with the corpus (the vocab_growth_curve finding).  The bound each
# key relies on is recorded here; PLANS.md's `1p window` column is
# the generated evidence this allowlist is checked against.
UNPARTITIONED_WINDOW_BOUNDS = {
    "agg_decile_profile": "10-decile cumulative rollup",
    "agg_hll_partitioned": "calendar-month domain",
    "agg_kll_quantiles": "calendar-month domain",
    "bpe_pair_counts": "character-bigram (alphabet**2) histogram, top-20",
    "cumulative_distinct_users": "calendar-day domain",
    "discount_theilsen_slope": "11 discount buckets -> <=55 pairwise slopes",
    "event_hour_seasonality": "24-hour domain",
    "event_paths_topk": "|event_types|**3 path histogram",
    "events_anomaly_mad": "calendar days + daily-count histogram",
    "events_seasonal_residual_anomaly": "distinct residual values + 24 hourly means",
    "funnel_time_to_convert": "distinct delay seconds (time-range domain)",
    "global_shuffle": "256 hash-prefix bucket histogram",
    "interarrival_gap_p90": "distinct gap-day values (time-range domain)",
    "length_curriculum": "4-stage cumulative rollup",
    "multi_join_topn": "rank over an orderBy+limit(20) result",
    "orders_monthly_momentum": "calendar-month domain",
    "orders_priority_mix_shift": "month x priority cells",
    "quality_score_auc": "word-count score domain (~1e3 values)",
    "revenue_share_of_parent": "region/nation totals",
    "sequence_gap_audit": "1024x-reduced bucket min/max summary (recursable)",
    "session_max_concurrency": "minute timeline (calendar-sized)",
    "session_path_topk": "rank over an orderBy+limit(10) result",
    "skyline_pareto_frontier": "~50 discrete part sizes",
    "source_drift_ks": "distinct n_chars values (value domain)",
    "split_kfold": "5 folds",
    "stat_chi2_independence": "lang x source contingency cells",
    "token_gini_concentration": "distinct token frequencies (Zipf-collapsed)",
    "token_topk": "distinct-token (type) domain",
    "ts_lagged_covariance": "calendar-day domain",
    "ts_seasonal_decompose": "calendar-day domain",
}

# keys whose round-15 rewrite REMOVED a corpus-proportional
# unpartitioned window — they must never regress into the flagged set
RANKSTATS_FIXED = {
    "vocab_growth_curve",
    "agg_histogram_equidepth",
    "customer_pareto_coverage",
    "array_explode_outer",
    "customer_rfm_segments",
    "key_skew_profile",
    "orders_abc_class",
    "pareto_revenue_share",
    "subquery_multi_exists",
    "text_ttr_buckets",
}


def _plans_md_unpartitioned_keys() -> set[str]:
    import re

    flagged = set()
    with open(REPO / "PLANS.md") as fh:
        for line in fh:
            m = re.match(r"\| `([a-z0-9_]+)` \|", line)
            if m and "| yes ×" in line:
                flagged.add(m.group(1))
    return flagged


def test_unpartitioned_windows_are_domain_bounded():
    """PLANS.md's `1p window` column (regenerated per round by
    tools/gen_plans.py) vs the allowlist above: a newly-flagged key
    failing here must either justify its bound (add it with the
    domain) or be rewritten on operators/rankstats.py."""
    flagged = _plans_md_unpartitioned_keys()
    unexplained = flagged - set(UNPARTITIONED_WINDOW_BOUNDS)
    assert not unexplained, f"unpartitioned windows with no documented bound: {sorted(unexplained)}"
    regressed = flagged & RANKSTATS_FIXED
    assert not regressed, f"rankstats-fixed keys regressed to 1p windows: {sorted(regressed)}"


def test_vocab_growth_curve_no_unpartitioned_window(spark):
    """A single-partition running sum over the corpus does not
    scale: the executed plan of vocab_growth_curve carries NO unpartitioned Window exec — its
    corpus-proportional running sum is range-bucketed with broadcast
    prefix-sum offsets (the global_shuffle pattern)."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    from gen_plans import count_unpartitioned_windows

    plan = _plan(spark, "vocab_growth_curve")
    assert count_unpartitioned_windows(plan) == 0, plan


# --- the builder contract: registry.query pins the session ----------

_PINNED = {
    "spark.sql.session.timeZone": ("America/New_York", "UTC"),
    "spark.sql.ansi.enabled": ("false", "true"),
    "spark.sql.legacy.timeParserPolicy": ("LEGACY", "CORRECTED"),
}


def test_registry_pins_session_for_every_build(spark, monkeypatch):
    """A builder registered through ``registry.query`` runs under the
    pinned result-affecting confs, whatever the caller left set."""
    from data_engineering_assessment_spark.plans import registry

    monkeypatch.setattr(registry, "_QUERIES", {})

    @registry.query("probe")
    def probe(spark, sf_dir):
        return spark.createDataFrame([tuple(spark.conf.get(k) for k in _PINNED)], list("abc"))

    prev = {k: spark.conf.get(k, None) for k in _PINNED}
    try:
        for k, (hostile, _) in _PINNED.items():
            spark.conf.set(k, hostile)
        row = registry.queries()["probe"](spark, SF_DIR).first()
        assert tuple(row) == tuple(pinned for _, pinned in _PINNED.values())
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_builder_pins_its_own_session():
    """The pin lives in the registry wrapper only: no plan module
    imports or calls ``ensure_deterministic_session``."""
    import ast

    name = "ensure_deterministic_session"
    offenders = []
    for path in sorted((REPO / "data_engineering_assessment_spark" / "plans").glob("*.py")):
        if path.name == "registry.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                hit = any(a.name.rsplit(".", 1)[-1] == name for a in node.names)
            elif isinstance(node, ast.Call):
                f = node.func
                hit = getattr(f, "id", None) == name or getattr(f, "attr", None) == name
            else:
                continue
            if hit:
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders


def test_registry_wrapper_is_transparent():
    """The registered wrapper keeps the builder's name, docstring,
    signature and source: ``layout.versioned_scratch_tag`` digests
    ``inspect.getsource(builder)``, so an edit to the builder's body
    must still change its layout tag."""
    import inspect

    from data_engineering_assessment_spark.plans import relational

    wrapped = QUERIES["scan_partitioned"]
    raw = inspect.unwrap(wrapped)
    assert wrapped is relational.scan_partitioned and raw is not wrapped
    assert wrapped.__name__ == raw.__name__ == "scan_partitioned"
    assert wrapped.__doc__ == raw.__doc__ and raw.__doc__
    assert inspect.signature(wrapped) == inspect.signature(raw)
    src = inspect.getsource(wrapped)
    assert src == inspect.getsource(raw)
    assert "def scan_partitioned(" in src
    assert "versioned_scratch_tag(sf_dir, scan_partitioned)" in src
