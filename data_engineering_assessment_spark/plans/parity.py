"""Reference-parity query keys (SURVEY.md §2.1–2.3).

The reference's own operators — CSV clean/parse, one-hot flag codegen,
duration, bounding-box flag, star-projection extension — re-expressed
over (a) the committed green-taxi fixture for the CSV pipeline and
(b) the driver corpus tables for the derived-column operators (the
driver's DuckDB oracle can only see the corpus views, so timestamp
carriers are ``events.ts`` / ``orders.o_orderdate`` per FIXTURES.md).

Golden parity against the reference's actual ``02.parquet`` semantics
(UTC hours, dead ``dow_is_0``) is additionally asserted in
``tests/test_green_taxi.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.taxi import duration_seconds, in_bbox, one_hot_dow, one_hot_hour
from ..sources.green_taxi import clean_lines, read_green_taxi_csv, validate_header
from ..sources.tables import load_table
from .registry import query

FIXTURE_CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "green_taxi_fixture.csv",
)

# ---------------------------------------------------------------------------
# CSV pipeline keys (S2–S5) — oracle is a VALUES literal holding the
# expected golden output of the committed fixture, so the driver's
# hash-compare doubles as a golden-output test.
# ---------------------------------------------------------------------------

_CLEAN_EXPECTED = (
    "2,2013-09-01 00:02:00,2013-09-01 00:10:30,N,1,-73.952407836914062,40.810726165771484,"
    "-73.983978271484375,40.676105499267578,1,2.50,10.50,0.50,0.50,2.00,0.00,,13.50,1,",
    "1,2013-09-05 12:00:00,2013-09-05 11:30:00,Y,5,0.000000000000000,0.000000000000000,"
    "0.000000000000000,0.000000000000000,2,0.00,-0.50,0.00,0.00,0.00,0.00,,0.00,3,1",
    "2,2013-09-07 23:59:59,2013-09-08 00:15:00,N,99,-73.790000000000000,40.645000000000000,"
    "-73.900000000000000,40.700000000000000,3,5.00,20.00,0.00,0.50,3.00,5.33,,28.83,2,",
)


@query(
    "scan_csv_header_check",
    oracle="SELECT CAST(1 AS BIGINT) AS header_ok",
)
def scan_csv_header_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header whitelist validation (01.py:184-186): fail-fast before
    any distributed work; emits a single OK row when the header is
    byte-for-byte correct."""
    validate_header(spark, FIXTURE_CSV)
    return spark.range(1).select(F.lit(1).cast("long").alias("header_ok"))


@query(
    "scan_csv_clean",
    oracle="SELECT * FROM (VALUES {values}) AS t(line)".format(
        values=", ".join("('{}')".format(v.replace("'", "''")) for v in _CLEAN_EXPECTED)
    ),
)
def scan_csv_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed cleaner (01.py:187-205): blank-line skip + trailing-
    field truncation as a text-scan + regex pipeline."""
    return clean_lines(spark, FIXTURE_CSV, fail_fast=True)


def _typed_as_strings(df: DataFrame) -> DataFrame:
    return df.select([F.col(c).cast("string").alias(c) for c in df.columns])


_TYPED_EXPECTED_ROWS = [
    # (VendorID, pickup, dropoff, flag, rate, plon, plat, dlon, dlat, pax,
    #  dist, fare, extra, mta, tip, tolls, ehail, total, pay, triptype)
    (
        "2", "2013-09-01 00:02:00", "2013-09-01 00:10:30", "false", "1",
        "-73.952407836914062", "40.810726165771484", "-73.983978271484375",
        "40.676105499267578", "1", "2.50", "10.50", "0.50", "0.50", "2.00",
        "0.00", None, "13.50", "1", None,
    ),
    (
        "1", "2013-09-05 12:00:00", "2013-09-05 11:30:00", "true", "5",
        "0.000000000000000", "0.000000000000000", "0.000000000000000",
        "0.000000000000000", "2", "0.00", "-0.50", "0.00", "0.00", "0.00",
        "0.00", None, "0.00", "3", "1",
    ),
    (
        "2", "2013-09-07 23:59:59", "2013-09-08 00:15:00", "false", "99",
        "-73.790000000000000", "40.645000000000000", "-73.900000000000000",
        "40.700000000000000", "3", "5.00", "20.00", "0.00", "0.50", "3.00",
        "5.33", None, "28.83", "2", None,
    ),
]

_TYPED_COLS = (
    "VendorID", "lpep_pickup_datetime", "lpep_dropoff_datetime",
    "Store_and_fwd_flag", "RateCodeID", "Pickup_longitude", "Pickup_latitude",
    "Dropoff_longitude", "Dropoff_latitude", "Passenger_count",
    "Trip_distance", "Fare_amount", "Extra", "MTA_tax", "Tip_amount",
    "Tolls_amount", "Ehail_fee", "Total_amount", "Payment_type", "Trip_type",
)


def _values_literal(rows: list[tuple[str | None, ...]]) -> str:
    def cell(v: str | None) -> str:
        return "CAST(NULL AS VARCHAR)" if v is None else "'{}'".format(v.replace("'", "''"))

    return ", ".join("({})".format(", ".join(cell(v) for v in row)) for row in rows)


@query(
    "scan_csv_typed",
    oracle="SELECT * FROM (VALUES {values}) AS t({cols})".format(
        values=_values_literal(_TYPED_EXPECTED_ROWS), cols=", ".join(_TYPED_COLS)
    ),
)
def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed parse against the explicit 20-column schema (01.py:208-233):
    '' → null, Y/N → bool, exact timestamp format, decimal casts.
    Output stringified for engine-portable golden compare."""
    return _typed_as_strings(read_green_taxi_csv(spark, FIXTURE_CSV))


# ---------------------------------------------------------------------------
# Derived-column operators (P1–P4) over driver corpus tables
# ---------------------------------------------------------------------------

_HOUR_FLAGS_SQL = ",\n           ".join(
    f"CAST(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END AS INT) AS hour_is_{h}"
    for h in range(24)
)


@query(
    "one_hot_hour",
    oracle=f"SELECT event_id,\n           {_HOUR_FLAGS_SQL}\n    FROM events",
)
def one_hot_hour_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24 hour one-hot flags (02.py:38-46 semantics, UTC hours) over
    events.ts — generated native CASE expressions, constant-folded by
    Catalyst, zero shuffles."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", *one_hot_hour("ts", prefix="hour_is_")
    )


# Reference quirk reproduction: flags compare Spark's 1-based DAYOFWEEK
# against 0..6 (02.py:48-65) → dow_is_0 is dead and Saturdays all-zero.
# DuckDB dayofweek is 0=Sunday, hence the +1 (verified numerically).
_DOW_FLAGS_SQL = ",\n           ".join(
    f"CAST(CASE WHEN dayofweek(ts) + 1 = {d} THEN 1 ELSE 0 END AS INT) AS dow_is_{d}"
    for d in range(7)
)


@query(
    "one_hot_dow",
    oracle=f"SELECT event_id,\n           {_DOW_FLAGS_SQL}\n    FROM events",
)
def one_hot_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7 day-of-week flags with the reference's *observed* (buggy)
    semantics preserved for golden parity (SURVEY.md §2.2 note)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", *one_hot_dow("ts", prefix="dow_is_", corrected=False)
    )


_DOW_CORRECTED_SQL = ",\n           ".join(
    f"CAST(CASE WHEN dayofweek(ts) = {d} THEN 1 ELSE 0 END AS INT) AS dow_is_{d}"
    for d in range(7)
)


@query(
    "one_hot_dow_corrected",
    oracle=f"SELECT event_id,\n           {_DOW_CORRECTED_SQL}\n    FROM events",
)
def one_hot_dow_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corrected variant: 0=Sunday..6=Saturday, complete partition."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", *one_hot_dow("ts", prefix="dow_is_", corrected=True)
    )


@query(
    "duration_seconds",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(FLOOR(epoch(l.l_shipdate)) AS BIGINT)
             - CAST(FLOOR(epoch(o.o_orderdate)) AS BIGINT) AS Duration_seconds
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def duration_seconds_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-subtraction duration (02.py:73-76) — order-to-ship latency
    per lineitem.  Negative durations, if present, are kept (the
    reference keeps its 9 negative rows, 02.py:70-72)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        duration_seconds("o_orderdate", "l_shipdate", name="Duration_seconds"),
    )


@query(
    "flag_bbox",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(CASE WHEN (l_quantity BETWEEN 10 AND 20 AND l_discount BETWEEN 0.02 AND 0.05)
                       OR (l_extendedprice BETWEEN 20000 AND 30000 AND l_tax BETWEEN 0.01 AND 0.04)
                     THEN 1 ELSE 0 END AS INT) AS in_box
    FROM lineitem
    """,
)
def flag_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound inclusive-BETWEEN box flag (02.py:78-95 shape): two 2-D
    boxes OR-ed, double literals against the scanned columns."""
    box = in_bbox("l_quantity", "l_discount", (10.0, 20.0), (0.02, 0.05)) | in_bbox(
        "l_extendedprice", "l_tax", (20000.0, 30000.0), (0.01, 0.04)
    )
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(box, F.lit(1)).otherwise(F.lit(0)).alias("in_box"),
    )


@query(
    "project_extend",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
           CAST(hour(ts) AS INT) AS hour_utc,
           CAST(dayofweek(ts) + 1 AS INT) AS dow,
           CAST(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS INT) AS is_weekend,
           CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid' ELSE 'high' END AS value_band,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def project_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-projection + derived-column extension (02.py:22-30 shape):
    SELECT * plus generated derived columns, one narrow projection."""
    dow_spark = F.dayofweek("ts")  # 1=Sunday..7=Saturday
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        F.hour("ts").alias("hour_utc"),
        dow_spark.alias("dow"),
        F.when(dow_spark.isin(1, 7), F.lit(1)).otherwise(F.lit(0)).alias("is_weekend"),
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
        .alias("value_band"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )
