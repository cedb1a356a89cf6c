"""Registry mapping query keys (SURVEY.md §2) to builders + oracles.

Each query is a ``(spark, sf_dir) -> DataFrame`` builder.  Queries
with an oracle also carry the equivalent ANSI SQL that DuckDB runs on
the same parquet tables; the driver hash-compares both results
(row-count + schema + order-insensitive value hash).  Determinism
rules every registered query follows:

- money/quantity aggregates go through DECIMAL casts → exact
  arithmetic, identical in any engine and any execution order;
- averages are exact-decimal sums cast to double then divided by a
  count — single IEEE ops on identical operands, bit-identical
  everywhere;
- timestamps are emitted as epoch BIGINT or formatted strings, never
  raw session-tz-dependent values;
- every computed column is aliased identically in Spark and oracle;
- ORDER-dependent outputs always carry a unique tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder; ``oracle`` is DuckDB-runnable SQL or
    None for genuinely non-SQL-expressible ops (rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    return dict(_ORACLES)

