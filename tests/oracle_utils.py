"""Local replica of the driver's DuckDB-oracle comparison.

Registers the corpus parquet as DuckDB views, runs a query's oracle
SQL, and compares against the Spark result: row count, column names,
and order-insensitive exact values (columns sorted by name, rows
sorted by canonical string form) — the strictest plausible reading of
the driver's value-hash, so passing here should imply passing there.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

from data_engineering_assessment_spark.schemas import CORPUS_TABLES

# Keys whose oracle DELIBERATELY outputs a non-portable DuckDB type.
# Empty since round 7: probe_hugeint_sum (the round-6 diagnostic
# control that kept a bare HUGEINT SUM, failed the typed-fetch
# check in round 6 exactly as predicted) was retired by flipping its
# oracle to the standard CAST(SUM(..) AS BIGINT) idiom.  The set and
# the lint plumbing stay so any future deliberate control is a
# one-line opt-in.
NONPORTABLE_ORACLE_KEYS: set[str] = set()

# DuckDB result types that the grading driver's typed fetch does NOT
# canonicalize like their Spark counterparts (HUGEINT = what
# SUM(BIGINT) returns; DECIMAL by the fixed-point output contract).
# Shared by compare() below and the static lint in
# tests/test_correctness.py so the two can never drift apart.
NONPORTABLE_ORACLE_TYPES = ("HUGEINT", "UHUGEINT")
NONPORTABLE_ORACLE_TYPE_PREFIXES = ("DECIMAL",)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return f"t:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"x:{v.hex()}"
    return f"{type(v).__name__[0]}:{v}"


def _rowset(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)


def compare(
    spark_df,
    con: duckdb.DuckDBPyConnection,
    sql: str,
    *,
    allow_nonportable: bool = False,
    arrow_fetch: bool = False,
) -> None:
    """Compare a Spark result against a DuckDB oracle.

    ``arrow_fetch=True`` fetches the oracle through ``.arrow()``
    instead of ``fetchall()`` — the closest local emulation of the
    grading driver's typed fetch (HUGEINT surfaces as
    decimal128(38,0) → ``decimal.Decimal``, which canonicalizes
    unlike ``int``; nullable BIGINT stays exact int64+mask, matching
    the observed green verdicts on NULL-bearing keys).  Use it in
    replay to catch canonicalization-class divergences that the
    plain-int fetch is structurally blind to."""
    # Typed-fetch guard (round 6): fetchall() yields Python int for
    # DuckDB HUGEINT and BIGINT alike, so a value comparison here is
    # structurally BLIND to output-type divergence — yet the grading
    # driver's typed fetch path canonicalizes HUGEINT (= what
    # SUM(BIGINT) returns) unlike BIGINT, which made 4 locally-green
    # keys red driver-side in r04/r05.  Check the declared types too,
    # so replay catches the class without waiting for a round trip.
    if not allow_nonportable:
        for name, typ, *_ in con.execute(f"DESCRIBE ({sql})").fetchall():
            assert typ not in NONPORTABLE_ORACLE_TYPES and not typ.startswith(
                NONPORTABLE_ORACLE_TYPE_PREFIXES
            ), (
                f"oracle column {name} has non-portable type {typ} "
                "(driver-side hash hazard): wrap in CAST(.. AS BIGINT)"
            )
    oracle = con.sql(sql)
    o_cols = list(oracle.columns)
    if arrow_fetch:
        tbl = oracle.arrow()
        cols = [tbl.column(c).to_pylist() for c in o_cols]
        o_rows = list(zip(*cols)) if cols else []
    else:
        o_rows = oracle.fetchall()
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(s_cols) == sorted(o_cols), (
        f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    )
    s_set = _rowset(s_rows, s_cols)
    o_set = _rowset(o_rows, o_cols)
    if s_set != o_set:
        diffs = [
            (a, b) for a, b in zip(s_set, o_set) if a != b
        ][:5]
        raise AssertionError(f"value mismatch; first diffs (spark vs oracle): {diffs}")
