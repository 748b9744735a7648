"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``real_time_scraping_and_predicting_time_series_data_spark``;
queries are registered in ``plans.registry`` by the operator modules.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from real_time_scraping_and_predicting_time_series_data_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from real_time_scraping_and_predicting_time_series_data_spark.plans.flagship import flagship

    # The driver tables store timestamps as parquet timestamp[us]; parquet
    # written by pandas stores TIMESTAMP(NANOS), which Spark reads only with
    # the nanosAsLong escape hatch. The driver may hand us a session without
    # it, so set it here (runtime conf — takes effect for new reads).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    base = registry.query_map()

    def with_conf(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return fn(spark, sf_dir)

        return wrapped

    return {name: with_conf(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return registry.oracle_map()
