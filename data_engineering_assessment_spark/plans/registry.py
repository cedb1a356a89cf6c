"""Registry mapping query keys (SURVEY.md §2) to builders + oracles.

Each query is a ``(spark, sf_dir) -> DataFrame`` builder.  Queries
with an oracle also carry the equivalent ANSI SQL that DuckDB runs on
the same parquet tables; the driver hash-compares both results
(row-count + schema + order-insensitive value hash).  Determinism
rules every registered query follows:

- every build runs under pinned result-affecting session confs:
  :func:`query` wraps each builder so it calls
  ``session.ensure_deterministic_session(spark)`` first, on every
  call (no per-session memo: a caller may change a conf between
  builds), and builders do not call it themselves;
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

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_deterministic_session

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query builder; ``oracle`` is DuckDB-runnable SQL or
    None for genuinely non-SQL-expressible ops (rows-only check).

    The registered and returned function is a ``functools.wraps``
    wrapper that pins the session before it builds, so a direct
    module-level call is pinned too.  ``wraps`` keeps ``__wrapped__``,
    through which ``inspect.getsource`` reaches the builder's own
    source (``layout.versioned_scratch_tag`` digests it)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query key {name!r}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_deterministic_session(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = pinned
        if oracle is not None:
            _ORACLES[name] = oracle
        return pinned

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    return dict(_ORACLES)
