"""Compare the benchmark's generated tables with the repository's sf0.1
fixtures: the distributions ``tables.py`` copies, the selectivity of each
``relational_mix`` query's filters, each query's output rows and, with
``--spark``, each query's median time on both table sets.

    python3 perfbench/fixtures.py [FIXTURE_DIR] [--spark]

``FIXTURE_DIR`` defaults to ``catalog.default_sf_dir()``.  The benchmark
itself never reads the fixtures; this script only documents how close its
own tables are to them.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tables  # noqa: E402
from mix import RELATIONAL_MIX, oracle_connection  # noqa: E402

from real_time_scraping_and_predicting_time_series_data_spark.catalog import default_sf_dir  # noqa: E402

PROFILE = {
    "events per user (mean, sd)": "SELECT round(avg(n), 2), round(stddev(n), 2) FROM "
    "(SELECT count(*) n FROM events GROUP BY user_id)",
    "event gap s (mean, p50)": "SELECT round(avg(d), 2), round(median(d), 2) FROM "
    "(SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY event_id)) / 1e6 d FROM events)",
    "event value (mean, p50, p99)": "SELECT round(avg(value), 2), round(median(value), 2), "
    "round(quantile_cont(value, 0.99), 2) FROM events",
    "event value repeats its user's last": "SELECT round(avg(CASE WHEN value = p THEN 1.0 ELSE 0.0 END), 4) "
    "FROM (SELECT value, lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) p FROM events) "
    "WHERE p IS NOT NULL",
    "order dates (first, last, distinct)": "SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE, "
    "count(DISTINCT o_orderdate) FROM orders",
    "ship dates (first, last, distinct)": "SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE, "
    "count(DISTINCT l_shipdate) FROM lineitem",
    "ship - order days (mean, share < 0)": "SELECT round(avg(d), 1), round(avg(CASE WHEN d < 0 THEN 1.0 ELSE 0.0 END), 3) "
    "FROM (SELECT date_diff('day', o_orderdate, l_shipdate) d FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
    "orders without lines": "SELECT round(1 - count(DISTINCT l_orderkey) / 150000.0, 4) FROM lineitem",
}

# Share of the rows each query's filters keep, on the tables they filter.
SELECTIVITY = {
    "q1_pricing_summary": "SELECT round(avg(CASE WHEN l_shipdate <= TIMESTAMP '1998-09-02' THEN 1.0 ELSE 0.0 END), 4) "
    "FROM lineitem",
    "q3_shipping_priority": "SELECT count(*) FROM customer c JOIN orders o ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'",
    "q5_local_supplier_volume": "SELECT count(*) FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'",
    "asof_join_click_purchase": "SELECT count(*) FROM events WHERE event_type IN ('click', 'purchase')",
    "ts_change_dedup": "SELECT count(*) FROM (SELECT value, lag(value) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) p FROM events) WHERE p IS NULL OR p <> value",
    "ts_rmse": "SELECT count(*) FROM events",
    "flagship_top_movers": "SELECT count(*) FROM (SELECT value, lag(value) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) p FROM events) WHERE p IS NULL OR p <> value",
}
SELECTIVITY_MEANING = {
    "q1_pricing_summary": "share of lines shipped by 1998-09-02",
    "q3_shipping_priority": "joined lines before the group-by",
    "q5_local_supplier_volume": "joined lines before the group-by",
    "asof_join_click_purchase": "click and purchase events",
    "ts_change_dedup": "ticks kept by change-dedup",
    "ts_rmse": "events",
    "flagship_top_movers": "ticks kept by change-dedup",
}


def _fetch(con, sql) -> str:
    return ", ".join(str(v) for v in con.sql(sql).fetchone())


def describe(sf_dir: str) -> dict:
    from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries

    queries = all_queries()
    con = oracle_connection(sf_dir)
    try:
        return {
            "profile": {k: _fetch(con, q) for k, q in PROFILE.items()},
            "selectivity": {k: _fetch(con, q) for k, q in SELECTIVITY.items()},
            "oracle_rows": {k: len(con.sql(queries[k].oracle).df()) for k in RELATIONAL_MIX},
        }
    finally:
        con.close()


def spark_times(dirs: list[str], rounds: int = 5) -> list[dict[str, float]]:
    """Per-query median seconds (build + noop write) on each table set,
    after one untimed round; the sets alternate round by round."""
    from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries
    from real_time_scraping_and_predicting_time_series_data_spark.session import get_spark, release_persisted_rdds

    spark = get_spark(app_name="perfbench-fixtures")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    times = [{q: [] for q in RELATIONAL_MIX} for _ in dirs]
    try:
        for r in range(rounds + 1):
            for i, d in enumerate(dirs):
                for name in RELATIONAL_MIX:
                    t = time.perf_counter()
                    queries[name].fn(spark, d).write.format("noop").mode("overwrite").save()
                    release_persisted_rdds(spark)
                    if r:
                        times[i][name].append(time.perf_counter() - t)
    finally:
        spark.stop()
    return [{q: statistics.median(v) for q, v in t.items()} for t in times]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("fixture_dir", nargs="?", default=default_sf_dir())
    ap.add_argument("--spark", action="store_true", help="also time each query on both table sets")
    args = ap.parse_args()
    ours = tables.data_dir(HERE)
    tables.ensure_tables(ours)
    fix, gen = describe(args.fixture_dir), describe(ours)
    print("| | fixtures | generated |\n|---|---|---|")
    for k in PROFILE:
        print(f"| {k} | {fix['profile'][k]} | {gen['profile'][k]} |")
    print("\n| query | filter figure | fixtures | generated | oracle rows (fixtures / generated) |\n|---|---|---|---|---|")
    for k in RELATIONAL_MIX:
        print(f"| `{k}` | {SELECTIVITY_MEANING[k]} | {fix['selectivity'][k]} | {gen['selectivity'][k]} | "
              f"{fix['oracle_rows'][k]} / {gen['oracle_rows'][k]} |")
    if args.spark:
        tf, tg = spark_times([args.fixture_dir, ours])
        print("\n| query | median s, fixtures | median s, generated | generated / fixtures |\n|---|---|---|---|")
        for k in RELATIONAL_MIX:
            print(f"| `{k}` | {tf[k]:.3f} | {tg[k]:.3f} | {tg[k] / tf[k]:.2f} |")
        sf, sg = sum(tf.values()), sum(tg.values())
        print(f"| all | {sf:.3f} | {sg:.3f} | {sg / sf:.2f} |")


if __name__ == "__main__":
    main()
