"""Query registry: every SURVEY.md §2 operator surfaced as a named query.

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent DuckDB oracle SQL string (or ``None`` for non-SQL-expressible
operators → the driver does a rows-only check).

Dialect/determinism rules applied throughout (SURVEY.md §5.1):
- every computed column aliased identically in both engines;
- fp aggregates rounded identically in both engines (granularity chosen
  per-magnitude so cross-engine fp association drift cannot flip a digit);
- ``events.ts`` compared at µs precision (oracle casts ns → µs);
- Spark ``dayofweek`` is 1=Sunday, DuckDB ``dayofweek`` is 0=Sunday —
  oracle SQL normalizes;
- under LIMIT, ORDER BY always carries a unique tiebreaker;
- integer-valued percentiles use NEAREST-RANK order statistics, never
  interpolation (interpolated quantiles land a half-ulp apart across
  engines and flip integer truncation — the view_to_purchase_latency
  lesson); fp quantiles over doubles (percentile/quantile_cont on
  already-fp data) remain fine under the rounding rule.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        # A duplicate name would silently SHADOW the earlier query (last
        # module import wins) — the earlier query's oracle would then
        # describe code that no longer runs.
        if name in REGISTRY:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                "registered; pick a distinct name"
            )
        REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Import for side effects: each module registers its queries.
from time_series_spark_spark import queries_relational  # noqa: E402,F401
from time_series_spark_spark import queries_timeseries  # noqa: E402,F401
from time_series_spark_spark import queries_forecast  # noqa: E402,F401
from time_series_spark_spark import queries_llm  # noqa: E402,F401
from time_series_spark_spark import queries_streaming  # noqa: E402,F401
from time_series_spark_spark import queries_composite  # noqa: E402,F401
from time_series_spark_spark import queries_udfs  # noqa: E402,F401
from time_series_spark_spark import queries_tpch  # noqa: E402,F401
from time_series_spark_spark import queries_sketches  # noqa: E402,F401
from time_series_spark_spark import queries_cdc  # noqa: E402,F401
from time_series_spark_spark import queries_analytics  # noqa: E402,F401
from time_series_spark_spark import queries_tsmining  # noqa: E402,F401
from time_series_spark_spark import queries_quant  # noqa: E402,F401
from time_series_spark_spark import queries_geo  # noqa: E402,F401
from time_series_spark_spark import queries_privacy  # noqa: E402,F401


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
