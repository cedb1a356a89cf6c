"""Behavioral guarantees of the round-4 curation plans that the
oracle hash can't state directly: NTILE's equal-depth guarantee, the
spine's gaplessness, the sample's exact-K contract, and that the
corrupt-scan fixture is genuinely unreadable without tolerance."""

from __future__ import annotations

import glob

import pytest

from pyspark.sql import functions as F

from data_engineering_assessment_spark.plans import curation
from tests.conftest import SF_DIR


def test_equidepth_bins_differ_by_at_most_one(spark):
    rows = curation.agg_histogram_equidepth(spark, SF_DIR).collect()
    sizes = [r.n for r in rows]
    assert len(rows) == 8
    assert max(sizes) - min(sizes) <= 1
    # bins tile the value range in order without overlap
    by_bin = sorted(rows, key=lambda r: r.bin)
    for lo, hi in zip(by_bin, by_bin[1:]):
        assert lo.hi_cents <= hi.lo_cents


def test_spine_has_no_gaps_and_zero_days_are_explicit(spark):
    rows = sorted(
        curation.ts_spine_zero_fill(spark, SF_DIR).collect(), key=lambda r: r.day_s
    )
    diffs = {b.day_s - a.day_s for a, b in zip(rows, rows[1:])}
    assert diffs == {86400}
    assert all(r.n_events >= 0 for r in rows)


def test_reservoir_is_exactly_k_and_stable(spark):
    a = curation.sample_reservoir(spark, SF_DIR).collect()
    b = curation.sample_reservoir(spark, SF_DIR).collect()
    assert len(a) == curation.RESERVOIR_K
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)


def test_group_holdout_never_splits_a_source(spark):
    from data_engineering_assessment_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tagged = docs.select(
        "source",
        F.when(F.substring(F.md5("source"), 1, 1).isin("0", "1"), "eval")
        .otherwise("train")
        .alias("split"),
    )
    spans = tagged.groupBy("source").agg(F.countDistinct("split").alias("k"))
    assert spans.filter(F.col("k") > 1).count() == 0


def test_corrupt_fixture_is_genuinely_unreadable(spark):
    """Guards the scan_corrupt_tolerant key against a vacuous pass: if
    staging ever stopped truncating the shard, a strict read would
    succeed and this test would fail."""
    from data_engineering_assessment_spark.sources.layout import (
        scratch_path,
        versioned_scratch_tag,
    )

    curation.scan_corrupt_tolerant(spark, SF_DIR).collect()  # stages + corrupts
    tag = versioned_scratch_tag(SF_DIR, curation.scan_corrupt_tolerant)
    in_dir = f"{scratch_path('corrupt_scan', tag)}/in"
    assert len(glob.glob(f"{in_dir}/shard*.parquet")) == 4
    with pytest.raises(Exception):
        spark.read.option("ignoreCorruptFiles", "false").parquet(
            f"{in_dir}/shard3.parquet"
        ).collect()


def test_expectations_detect_planted_violations(spark):
    """The suite compiler flags exactly the planted problems: a null,
    an out-of-range value, a bad enum, a duplicate key, an orphan FK
    — with exact violation counts — and one clean table passes all."""
    from pyspark.sql import functions as F

    from data_engineering_assessment_spark.operators.expectations import (
        expect,
        run_expectations,
    )

    rows = [
        (1, 10.0, "O", 100),
        (2, -5.0, "F", 101),    # range violation
        (3, 20.0, "Z", 102),    # enum violation
        (None, 30.0, "O", 103),  # null key
        (5, 40.0, "P", 999),    # orphan customer
        (5, 50.0, "O", 100),    # duplicate order key
    ]
    df = spark.createDataFrame(rows, "k long, price double, status string, cust long")
    dim = spark.createDataFrame([(100,), (101,), (102,), (103,)], "c long")
    rep = {
        r.constraint: (r.violations, r.passed)
        for r in run_expectations(
            df,
            [
                expect.not_null("k"),
                expect.range_between("price", 0, 1000),
                expect.isin("status", ["O", "F", "P"]),
                expect.unique("k"),
                expect.foreign_key("cust", dim, "c"),
            ],
        ).collect()
    }
    assert rep["not_null(k)"] == (1, False)
    assert rep["range(price,0,1000)"] == (1, False)
    assert rep["isin(status)"] == (1, False)
    assert rep["unique(k)"] == (1, False)  # one extra copy of k=5
    assert rep["fk(cust->c)"] == (1, False)

    clean = df.filter(
        F.col("k").isNotNull() & (F.col("k") != 5) & (F.col("status") != "Z")
        & (F.col("price") >= 0)
    )
    rep2 = run_expectations(
        clean,
        [expect.not_null("k"), expect.unique("k"), expect.foreign_key("cust", dim, "c")],
    ).collect()
    assert all(r.passed and r.violations == 0 for r in rep2)


def test_expectations_row_local_checks_share_one_scan(spark):
    """Compilation guarantee: N row-local checks produce ONE
    aggregation over one scan (no per-check passes)."""
    from data_engineering_assessment_spark.operators.expectations import (
        expect,
        run_expectations,
    )
    from data_engineering_assessment_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    rep = run_expectations(
        orders,
        [
            expect.not_null("o_custkey"),
            expect.range_between("o_totalprice", 0, 10**6),
            expect.isin("o_orderstatus", ["O", "F", "P"]),
        ],
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_weighted_sample_overrepresents_heavy_docs(spark):
    """The weight actually biases selection: the sampled docs' mean
    length exceeds the corpus mean, and the subset is identical under
    re-partitioning (priority is partition-independent)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from data_engineering_assessment_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    picked = E.queries()["sample_weighted"](spark, SF_DIR)
    corpus_mean = (
        load_table(spark, SF_DIR, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = picked.agg(F.avg("n_chars")).collect()[0][0]
    assert sample_mean > corpus_mean

    ids = sorted(r.doc_id for r in picked.collect())
    again = sorted(
        r.doc_id
        for r in E.queries()["sample_weighted"](spark, SF_DIR)
        .repartition(13)
        .collect()
    )
    assert ids == again
