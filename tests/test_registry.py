"""Registry contract tests: every query runs and matches its oracle shape."""

from __future__ import annotations

import pytest

from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries
from real_time_scraping_and_predicting_time_series_data_spark.testing.parity import (
    duckdb_connection,
    run_query_parity,
)

from tests.conftest import SF_SMOKE

QUERIES = all_queries()


def test_registry_nonempty():
    assert len(QUERIES) >= 40


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(E.oracle_sql()) <= set(E.queries())


@pytest.fixture(scope="module")
def oracle_con():
    return duckdb_connection(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity_smoke(spark, oracle_con, name):
    """Every registered query matches its DuckDB twin at sf0.001 (the driver
    runs the same comparison at sf0.01)."""
    q = QUERIES[name]
    res = run_query_parity(spark, oracle_con, name, q.fn, q.oracle, SF_SMOKE)
    assert res.ok, f"{name}: {res.detail}"


def test_all_queries_is_registration_order():
    from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import (
        QUERIES as REGISTERED,
    )

    assert list(all_queries()) == list(REGISTERED)


def test_bench_covers_every_oracle_bearing_query():
    """bench.py's coverage-by-construction contract: the bench list is
    every oracle-bearing registry query, in registry order — so a new
    oracle-checked operator can never silently skip the benchmark."""
    import bench

    from tests.test_registry_counts import EXPECTED_ORACLES

    qs = all_queries()
    names = bench.bench_names(qs)
    oracle_bearing = [n for n, q in qs.items() if q.oracle is not None]
    assert names == oracle_bearing
    assert len(names) == len(set(names)) == EXPECTED_ORACLES
