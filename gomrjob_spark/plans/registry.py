"""Query + oracle registry.

Every implemented capability from SURVEY.md §2 registers here as a named
query (a ``(spark, sf_dir) -> DataFrame`` callable) and, when the semantics
are ANSI-SQL-expressible, a DuckDB oracle SQL string computing the same
result over the same parquet tables.

Conventions that make Spark/DuckDB results hash-identical:

- Alias every computed column identically on both sides (the driver sorts
  columns by name before hashing).
- Round any *aggregated* double to 2 decimals on both sides — summation
  order differs between engines, so raw double aggregates drift at ~1e-9
  relative error. Row-level double arithmetic is IEEE-deterministic and
  needs no rounding.
- Cast DuckDB integer sums to BIGINT (DuckDB widens to HUGEINT, Spark
  keeps LONG) and length()/year()-style BIGINTs down to INT where Spark
  returns int32.
- Deterministic ordering for limit/top-k: always add a unique tiebreaker
  key to the ORDER BY on both sides.

Oracle text may be composed from module-level SQL fragments (strings
and helpers returning SQL, e.g. ``plans.llm._PX_STATS_SQL``) so that a
CTE several oracles share is written once. Fragments are shared among
oracle strings only, never with engine code: no Spark-side plan reads
oracle text, so each oracle stays an independent reference for the
query it checks. ``scripts/plan_snapshot.py oracles`` dumps every
oracle and its sha256, to show a refactor left the text unchanged.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks it rows-only (non-SQL op)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco
