"""Reference-parity: golden-output equivalence and CSV-pipeline edges.

The strongest parity evidence available: feed the reference's own
part-1 output (``/root/reference/01.parquet``) through our derived-
column builders and demand row-for-row equality with its committed
part-2 golden output (``/root/reference/02.parquet``) — including the
dead ``dow_is_0`` column, all-zero Saturdays, UTC-hour flags, and the
9 negative durations (SURVEY.md §2.2, §6.1).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from data_engineering_assessment_spark.functions.taxi import taxi_derived_columns
from data_engineering_assessment_spark.sources.green_taxi import (
    InvalidHeaderError,
    clean_lines,
    parse_typed,
    read_green_taxi_csv,
    validate_header,
)
from data_engineering_assessment_spark.plans.parity import FIXTURE_CSV

REF_01 = "/root/reference/01.parquet"
REF_02 = "/root/reference/02.parquet"

needs_reference = pytest.mark.skipif(
    not (os.path.exists(REF_01) and os.path.exists(REF_02)),
    reason="reference golden artifacts not present",
)


@needs_reference
def test_golden_parity_02_parquet(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = spark.read.parquet(REF_01)
    ours = base.select("*", *taxi_derived_columns())
    golden = spark.read.parquet(REF_02)

    assert ours.columns == golden.columns
    assert ours.count() == golden.count() == 49_647
    # exact multiset equality, both directions
    assert ours.exceptAll(golden).limit(1).count() == 0
    assert golden.exceptAll(ours).limit(1).count() == 0


@needs_reference
def test_golden_quirks_preserved(spark):
    """The measured quirks from BASELINE.md hold for our derivation."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = spark.read.parquet(REF_01)
    ours = base.select("*", *taxi_derived_columns())
    agg = ours.agg(
        F.sum(sum([F.col(f"Pickup_hour_is_{h}") for h in range(24)], F.lit(0))).alias("hr"),
        F.sum(sum([F.col(f"Pickup_dow_is_{d}") for d in range(7)], F.lit(0))).alias("dw"),
        F.sum(F.col("Pickup_dow_is_0")).alias("dow0"),
        F.sum(F.when(F.col("Duration_seconds") < 0, 1).otherwise(0)).alias("neg"),
        F.sum("Pickup_or_dropoff_at_JFK").alias("jfk"),
    ).collect()[0]
    assert agg.hr == 49_647      # hour flags partition all rows
    assert agg.dw == 40_881      # Saturday gap (dead dow mapping)
    assert agg.dow0 == 0         # dow_is_0 is dead
    assert agg.neg == 9          # negative durations kept
    assert agg.jfk == 488


# ---------------------------------------------------------------------------
# CSV pipeline edge cases (01.py error contract)
# ---------------------------------------------------------------------------


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


HEADER_LINE = (
    "VendorID,lpep_pickup_datetime,Lpep_dropoff_datetime,Store_and_fwd_flag,RateCodeID,"
    "Pickup_longitude,Pickup_latitude,Dropoff_longitude,Dropoff_latitude,Passenger_count,"
    "Trip_distance,Fare_amount,Extra,MTA_tax,Tip_amount,Tolls_amount,Ehail_fee,"
    "Total_amount,Payment_type,Trip_type"
)

GOOD_ROW = (
    "2,2013-09-01 00:02:00,2013-09-01 00:10:30,N,1,-73.9,40.8,-73.9,40.6,1,"
    "2.50,10.50,0.50,0.50,2.00,0.00,,13.50,1,"
)


def test_bad_header_fails_fast(spark, tmp_path):
    p = _write(tmp_path, "bad.csv", "a,b,c\n1,2,3\n")
    with pytest.raises(InvalidHeaderError):
        validate_header(spark, p)


def test_short_row_fails_job_when_fail_fast(spark, tmp_path):
    p = _write(tmp_path, "short.csv", f"{HEADER_LINE}\n1,2,3\n")
    with pytest.raises(Exception, match="InvalidDataError"):
        clean_lines(spark, p, fail_fast=True).collect()


def test_short_row_quarantined_when_lenient(spark, tmp_path):
    p = _write(tmp_path, "short2.csv", f"{HEADER_LINE}\n1,2,3\n{GOOD_ROW}\n")
    rows = clean_lines(spark, p, fail_fast=False).collect()
    assert len(rows) == 1


def test_empty_data_section_is_valid_empty_output(spark, tmp_path):
    p = _write(tmp_path, "empty.csv", f"{HEADER_LINE}\n\n   \n")
    df = read_green_taxi_csv(spark, p)
    assert df.count() == 0
    assert len(df.schema.fields) == 20


def test_trailing_fields_truncated(spark, tmp_path):
    p = _write(tmp_path, "extra.csv", f"{HEADER_LINE}\n{GOOD_ROW},junk1,junk2\n")
    rows = clean_lines(spark, p, fail_fast=True).collect()
    assert rows[0].line == GOOD_ROW  # exactly the leftmost 20 fields survive
    typed = parse_typed(clean_lines(spark, p)).collect()
    assert typed[0].VendorID == 2
    assert typed[0].Trip_type is None


def test_fixture_typed_values(spark):
    df = read_green_taxi_csv(spark, FIXTURE_CSV)
    rows = {r.Passenger_count: r for r in df.collect()}  # unique per fixture row
    assert len(rows) == 3
    r = rows[2]  # the Y-flag / negative-fare row
    assert r.Store_and_fwd_flag is True
    assert str(r.Fare_amount) == "-0.50"
    assert r.Ehail_fee is None
    assert r.Trip_type == 1


def test_end_to_end_pipeline_from_fixture(spark, tmp_path):
    from data_engineering_assessment_spark.sources.green_taxi import green_taxi_pipeline

    fixture = (
        "data_engineering_assessment_spark/fixtures/green_taxi_fixture.csv"
    )
    out = green_taxi_pipeline(
        spark,
        fixture,
        str(tmp_path / "staged.parquet"),
        str(tmp_path / "out.parquet"),
    )
    # 20 source + 33 derived (24 hour + 7 dow + duration + jfk) = 53,
    # matching the reference's 02.parquet column count
    assert len(out.columns) == 53
    assert out.count() > 0
    # single-file promotion produced real files, not directories
    import os
    assert os.path.isfile(tmp_path / "staged.parquet")
    assert os.path.isfile(tmp_path / "out.parquet")


def test_taxi_derived_cache_rebuilds_across_stop_restart():
    """ADVICE r9 regression pin (functions/taxi.py cache key): the
    memoized Column cache must be keyed on (applicationId, startTime)
    — pre-fix it was keyed on id(SparkContext), which CPython can
    recycle after GC, so a stop()/restart cycle could serve Column
    trees holding dead py4j gateway handles.  The cycle needs its own
    JVMs (stopping the shared session fixture would poison the rest
    of the suite), so it runs in a subprocess: build → use → stop →
    restart → the cache must REBUILD (fresh objects, fresh key) and
    the rebuilt columns must be usable in a real select."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])  # the checkout under test
        from data_engineering_assessment_spark.functions import taxi as taxi_mod
        from data_engineering_assessment_spark.session import get_spark

        ROW = ("SELECT timestamp'2016-01-03 11:22:33' AS lpep_pickup_datetime, "
               "timestamp'2016-01-03 11:52:33' AS lpep_dropoff_datetime, "
               "-73.78 AS Pickup_longitude, 40.65 AS Pickup_latitude, "
               "-73.99 AS Dropoff_longitude, 40.75 AS Dropoff_latitude")

        def use(spark):
            cols = taxi_mod.taxi_derived_columns()
            r = spark.sql(ROW).select(*cols).collect()[0]
            assert r["Pickup_hour_is_11"] == 1 and r["Duration_seconds"] == 1800
            assert r["Pickup_or_dropoff_at_JFK"] == 1
            return cols

        s1 = get_spark(app_name="cache-cycle-1", cpus=2, shuffle_partitions=2)
        sc1 = s1.sparkContext
        c1 = use(s1)
        # key CONTENT pin: (applicationId, startTime), never id(ctx)
        assert taxi_mod._TAXI_DERIVED_CTX == (sc1.applicationId, sc1.startTime), (
            taxi_mod._TAXI_DERIVED_CTX
        )
        # within one context the cache serves the same Column objects
        assert taxi_mod.taxi_derived_columns()[0] is c1[0]
        s1.stop()

        s2 = get_spark(app_name="cache-cycle-2", cpus=2, shuffle_partitions=2)
        sc2 = s2.sparkContext
        c2 = use(s2)  # must not raise on dead handles
        assert c2[0] is not c1[0], "cache was not rebuilt after restart"
        assert taxi_mod._TAXI_DERIVED_CTX == (sc2.applicationId, sc2.startTime)
        s2.stop()
        print("CYCLE-OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "CYCLE-OK" in out.stdout
