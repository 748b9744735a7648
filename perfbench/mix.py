"""``relational_mix``: short registry queries at sf0.1 through the noop sink.

One op is one query: its build (``fn(spark, sf_dir)``), its action (a noop
write) and the release of the RDDs it pinned.  An untimed round first runs
every query once as an op; the timed phase then runs whole rounds, each in
an order drawn from ``--seed``, until ``seconds`` have passed.  After the
clock stops every query runs once more to collect its output, which is
compared with its DuckDB oracle over the same parquet files by the
repository's parity harness (``testing.parity.compare_frames``).
"""

from __future__ import annotations

import random
import statistics
import sys
import time

import duckdb

from tables import table_names

from real_time_scraping_and_predicting_time_series_data_spark import catalog
from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries
from real_time_scraping_and_predicting_time_series_data_spark.session import release_persisted_rdds
from real_time_scraping_and_predicting_time_series_data_spark.testing.parity import compare_frames

RELATIONAL_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "asof_join_click_purchase",
    "ts_change_dedup",
    "ts_rmse",
    "flagship_top_movers",
)


def _trace_loads(tracer) -> None:
    """Wrap the ``load_table`` name each engine module imported."""
    original = catalog.load_table
    traced = tracer.wrap("catalog.load", original)
    prefix = catalog.__name__.rsplit(".", 1)[0]
    for name, mod in list(sys.modules.items()):
        if name.startswith(prefix) and getattr(mod, "load_table", None) is original:
            mod.load_table = traced


def run(ctx) -> dict:
    spark, tracer, sf_dir = ctx.spark, ctx.tracer, ctx.data_dir
    queries = all_queries()
    if tracer.enabled:
        _trace_loads(tracer)

    # The warm-up runs each query as a timed op does, through the noop
    # sink: a query's first noop write in the JVM plans and compiles it and
    # takes up to twice as long as later ones, also after a collect of the
    # same query.
    for name in RELATIONAL_MIX:
        queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_persisted_rdds(spark)

    rng = random.Random(ctx.seed)
    latencies, failures, order = [], [], []
    ctx.mark_timed_start()
    t_start = time.perf_counter()
    while not (latencies or failures) or time.perf_counter() - t_start < ctx.seconds:
        for name in rng.sample(RELATIONAL_MIX, len(RELATIONAL_MIX)):
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    with tracer.span("plans.build"):
                        df = queries[name].fn(spark, sf_dir)
                    if tracer.enabled:
                        with tracer.span("plans.catalyst"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("operators.action"):
                        df.write.format("noop").mode("overwrite").save()
                    release_persisted_rdds(spark)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
                failures.append(f"{name}: {type(e).__name__}: {e}")
                continue
            latencies.append(time.perf_counter() - t)
            order.append(name)
    wall = time.perf_counter() - t_start

    outputs = {}
    for name in RELATIONAL_MIX:
        outputs[name] = queries[name].fn(spark, sf_dir).toPandas()
        release_persisted_rdds(spark)

    errors = _check_outputs(queries, outputs, sf_dir)
    result = {
        "attempted": len(latencies) + len(failures),
        "failed": len(failures),
        "errors": errors,
        "ops_per_s": len(latencies) / wall,
        "op_p50_s": statistics.median(latencies) if latencies else float("nan"),
        "details": {
            "rounds": (len(latencies) + len(failures)) // len(RELATIONAL_MIX),
            "timed_wall_s": wall,
            "failures": failures,
            "latencies_s": list(zip(order, latencies)),
        },
    }
    if tracer.enabled:
        result["layers"] = _layers(tracer, len(latencies))
    return result


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table written under ``sf_dir``."""
    con = duckdb.connect()
    for t in table_names(sf_dir):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _check_outputs(queries, outputs, sf_dir) -> list[str]:
    con = oracle_connection(sf_dir)
    try:
        errors = []
        oracles = {name: con.sql(queries[name].oracle).df() for name in outputs}
        for name, got in outputs.items():
            res = compare_frames(name, got, oracles[name])
            if not res.ok:
                errors.append(f"{name}: output differs from its DuckDB oracle: {res.detail}")
        # Negative check: a perturbed copy of an output must be rejected.
        name = RELATIONAL_MIX[0]
        bad = outputs[name].copy()
        bad.iloc[0, bad.columns.get_loc("sum_qty")] += 0.01
        if compare_frames(name, bad, oracles[name]).ok:
            errors.append("negative check: a perturbed output passed")
        return errors
    finally:
        con.close()


def _layers(tracer, n_ops: int) -> dict:
    tracer.attach_spark_metrics()
    n = max(n_ops, 1)
    ops = tracer.named("op")
    timed = {s.id for s in ops}
    loads = [s for s in tracer.named("catalog.load") if _root(tracer, s) in timed]

    def total(name, attr):
        return sum(getattr(s, attr) for s in tracer.named(name)) / n

    return {
        "catalog.load_calls": len(loads) / n,
        "catalog.load_jobs": sum(s.jobs for s in loads) / n,
        "catalog.load_s": sum(s.seconds for s in loads) / n,
        "plans.build_s": total("plans.build", "seconds"),
        "plans.build_jobs": total("plans.build", "jobs"),
        "plans.catalyst_s": total("plans.catalyst", "seconds"),
        "operators.action_s": total("operators.action", "seconds"),
        "operators.jobs": total("op", "jobs"),
        "operators.stages": total("op", "stages"),
        "operators.tasks": total("op", "tasks"),
        "operators.executor_run_s": total("op", "executor_run_s"),
        "operators.shuffle_read_bytes": total("op", "shuffle_read_bytes"),
        "operators.shuffle_write_bytes": total("op", "shuffle_write_bytes"),
        "operators.spill_bytes": total("op", "spill_bytes"),
    }


def _root(tracer, span):
    while span.parent is not None:
        span = tracer.spans[span.parent]
    return span.id
