"""Central query registry.

Every operator module registers its named queries here with an optional
DuckDB-oracle SQL twin. ``__spark_entry__.py`` exposes the registry to the
driver's correctness harness: each entry is executed on Spark AND (when an
oracle exists) on DuckDB over the same parquet, then compared by row-count +
schema + order-insensitive value hash.

Conventions (critical for hash parity):
- every computed column is aliased identically in DataFrame code and SQL;
- aggregates over doubles are ``round(x, N)``-ed on BOTH sides, because
  floating-point summation order differs between engines;
- window ``ORDER BY`` always carries a unique tiebreaker column;
- DuckDB ``sum(int)`` returns ``HUGEINT`` — oracle SQL casts to ``BIGINT``
  to match Spark's ``LongType``;
- ``row_number()``/``rank()`` are cast to ``BIGINT`` on the Spark side
  (Spark emits int32, DuckDB int64).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

__all__ = ["Query", "QUERIES", "register", "all_queries", "query_map", "oracle_map"]

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI/DuckDB SQL twin; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, Query] = {}

# Modules that contribute queries; imported lazily by all_queries() so a
# syntax error in one operator module surfaces loudly instead of silently
# shrinking the registry.  all_queries() returns QUERIES in registration
# order, which follows this import order.
_QUERY_MODULES = (
    "real_time_scraping_and_predicting_time_series_data_spark.operators.asof",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.dedup",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.similarity",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.text",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.multimodal",
    "real_time_scraping_and_predicting_time_series_data_spark.sources.json_extract",
    "real_time_scraping_and_predicting_time_series_data_spark.sources.tick_source",
    "real_time_scraping_and_predicting_time_series_data_spark.functions.udfs",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.sketch",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.funnel",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.cleaning",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.cdc",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.corpus",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.tpch_deep",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.rolling",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.reshape",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.stats",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.skew",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.rangejoin",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.tickbars",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.indicators",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.graph",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.quality",
    "real_time_scraping_and_predicting_time_series_data_spark.ml.forecast",
    "real_time_scraping_and_predicting_time_series_data_spark.ml.mllib_forecast",
    "real_time_scraping_and_predicting_time_series_data_spark.ml.keras_forecast",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.relational",
    "real_time_scraping_and_predicting_time_series_data_spark.operators.timeseries",
    "real_time_scraping_and_predicting_time_series_data_spark.plans.flagship",
)

_loaded = False


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with an oracle SQL twin."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _loaded = True
    return QUERIES


def query_map() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
