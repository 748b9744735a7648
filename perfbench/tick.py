"""``tick_stream``: the reference's live loop as a Structured Streaming job.

Seeded polls (8 keys x 25 polls, one JSON file per poll round) sit in a drop
zone read by ``sources.streams.file_tick_stream`` one file per micro-batch
with trigger ``availableNow``; ``streaming.pipeline.ForecastPipeline`` gates,
stores, retrains, forecasts and scores each batch.  One op is one
micro-batch.  The query's first batch is the warm-up: it runs before the
clock starts and leaves forecasts that the first timed batch scores.  The
timed phase runs whole batches until ``seconds`` have passed and at least
``MIN_TIMED_BATCHES`` batches are done, so ``op_p50_s`` is a median of
that many latencies even when one batch outlasts ``seconds``; later batches
do nothing and the query is stopped.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from checks import check_tick_stores

from real_time_scraping_and_predicting_time_series_data_spark.ml import forecast
from real_time_scraping_and_predicting_time_series_data_spark.sources.streams import file_tick_stream
from real_time_scraping_and_predicting_time_series_data_spark.streaming.pipeline import ForecastPipeline

KEYS, POLLS_PER_FILE, POLL_SECONDS = 8, 25, 5
TICKS_PER_BATCH = KEYS * POLLS_PER_FILE
MIN_TIMED_BATCHES = 2
PIPELINE_ARGS = {"lookback": 5, "horizon": 3, "retrain_every": 10, "min_train_rows": 30}
_T0 = pd.Timestamp("2024-01-02 00:00:00")


def make_polls(seed: int, n_files: int) -> pd.DataFrame:
    """Per-key random walks in cents; 40% of polls repeat the last price,
    which the change-dedup gate drops."""
    rng = np.random.default_rng(seed)
    n = n_files * POLLS_PER_FILE
    steps = rng.integers(-50, 51, (n, KEYS)) * (rng.random((n, KEYS)) >= 0.4)
    cents = 10_000 + 1_000 * np.arange(KEYS) + np.cumsum(steps, axis=0)
    poll = np.repeat(np.arange(n), KEYS)
    return pd.DataFrame(
        {
            "event_id": np.arange(n * KEYS, dtype=np.int64),
            "ts": _T0 + pd.to_timedelta(poll * POLL_SECONDS, unit="s"),
            "user_id": np.tile(np.arange(KEYS, dtype=np.int64), n),
            "value": cents.reshape(-1) / 100.0,
            "batch": poll // POLLS_PER_FILE,
        }
    )


def write_drop_zone(polls: pd.DataFrame, drop_dir: str) -> None:
    """One JSON-lines file per batch; mtimes increase with the batch number
    so the file source takes them in order."""
    os.makedirs(drop_dir)
    for b, part in polls.groupby("batch"):
        path = os.path.join(drop_dir, f"poll_{b:05d}.json")
        with open(path, "w") as f:
            for r in part.itertuples(index=False):
                f.write(
                    json.dumps(
                        {"event_id": r.event_id, "ts": r.ts.isoformat() + "Z", "user_id": r.user_id, "value": r.value}
                    )
                    + "\n"
                )
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))


def _progress(query) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]


def _read_store(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df


def _store_files(stores: list[str]) -> tuple[int, int]:
    files = [os.path.join(d, f) for s in stores for d, _, fs in os.walk(s) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def run(ctx) -> dict:
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work_dir
    t = time.perf_counter()
    # Batch 0 is the warm-up; the backlog holds more files than a run takes.
    polls = make_polls(ctx.seed, 1 + max(MIN_TIMED_BATCHES + 1, 2 * ctx.seconds))
    drop = os.path.join(work, "drop")
    write_drop_zone(polls, drop)
    ctx.input_s += time.perf_counter() - t

    pipe = ForecastPipeline(spark, os.path.join(work, "store"), **PIPELINE_ARGS)
    if tracer.enabled:
        forecast.LinearForecaster.fit = tracer.wrap("ml.fit", forecast.LinearForecaster.fit)
    process = pipe.process_batch
    done = threading.Event()
    clock = {}  # "start": end of the warm-up batch; "ends": ends of timed batches

    def timed_batch(batch_df, batch_id):
        if done.is_set():
            return
        if batch_id == 0:
            process(batch_df, batch_id)
            clock["start"], clock["ends"] = time.perf_counter(), []
            ctx.mark_timed_start()
            return
        with tracer.span("streaming.foreach_batch"):
            process(batch_df, batch_id)
        ends = clock["ends"]
        ends.append(time.perf_counter())
        if len(ends) >= MIN_TIMED_BATCHES and ends[-1] - clock["start"] >= ctx.seconds:
            done.set()

    pipe.process_batch = timed_batch
    q = pipe.start(file_tick_stream(spark, drop))
    while not done.is_set() and q.isActive:
        done.wait(0.05)
    # A query that ended by itself either drained the backlog or failed; one
    # the clock ended is stopped here, after the last timed batch commits,
    # which interrupts at most a batch that does nothing.
    failure = None if done.is_set() else q.exception()
    done.set()
    ends = clock.get("ends", [])
    n_ops = len(ends)
    while q.isActive and not any(p["batchId"] >= n_ops for p in _progress(q)):
        time.sleep(0.05)
    q.stop()
    progress = [p for p in _progress(q) if 1 <= p["batchId"] <= n_ops]
    wall = ends[-1] - clock["start"] if n_ops else float("nan")
    trigger_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]

    errors = []
    if failure is not None:
        errors.append(f"stream failed: {failure}")
    if [p["numInputRows"] for p in progress] != [TICKS_PER_BATCH] * n_ops:
        errors.append("a timed batch did not read exactly one poll file")
    stores = [pipe.ticks_path, pipe.ledger_path, pipe.rmse_path]
    if n_ops and not errors:
        ticks, ledger, rmse = (_read_store(p) for p in stores)
        errors += check_tick_stores(polls, n_ops + 1, ticks, ledger, rmse, PIPELINE_ARGS)
        errors += _negative_checks(polls, n_ops + 1, ticks, ledger, rmse)

    result = {
        "attempted": n_ops + (failure is not None),
        "failed": int(failure is not None),
        "errors": errors,
        "ops_per_s": n_ops / wall,
        "op_p50_s": statistics.median(trigger_s) if trigger_s else float("nan"),
        "details": {
            "ticks_per_batch": TICKS_PER_BATCH,
            "batches": n_ops,
            "timed_wall_s": wall,
            "trigger_sum_s": sum(trigger_s),
            "trigger_s": trigger_s,
        },
    }
    if tracer.enabled:
        result["layers"] = _layers(tracer, progress, n_ops, wall, stores)
    return result


def _negative_checks(polls, n_ops, ticks, ledger, rmse) -> list[str]:
    """Each perturbed copy of a store must be rejected by the checks."""
    bad_ticks = ticks.copy()
    bad_ticks.loc[bad_ticks.index[-1], "value"] += 0.01
    bad_ledger = ledger.copy()
    bad_ledger.loc[bad_ledger.index[0], "target_ts"] += pd.Timedelta(seconds=1)
    bad_rmse = rmse.copy()
    bad_rmse["rmse"] = bad_rmse["rmse"] * (1 + 1e-6) + 1e-6
    cases = {
        "tick store": (bad_ticks, ledger, rmse),
        "ledger": (ticks, bad_ledger, rmse),
        "rmse": (ticks, ledger, bad_rmse),
    }
    return [
        f"negative check: a perturbed {name} passed"
        for name, (t, l, r) in cases.items()
        if not check_tick_stores(polls, n_ops, t, l, r, PIPELINE_ARGS)
    ]


def _layers(tracer, progress, n_ops, wall, stores) -> dict:
    tracer.attach_spark_metrics()
    batches = tracer.named("streaming.foreach_batch")[:n_ops]
    fits = [f for f in tracer.named("ml.fit") if f.parent in {b.id for b in batches}]
    n = max(n_ops, 1)

    def phase(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / n

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    files, size = _store_files(stores)
    return {
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.get_batch_ms": phase("getBatch"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_memory_bytes": state[-1]["memoryUsedBytes"] if state else 0,
        "streaming.state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state) / n,
        "streaming.foreach_batch_s": sum(b.seconds for b in batches) / n,
        "streaming.jobs_per_batch": sum(b.jobs for b in batches) / n,
        "streaming.tasks_per_batch": sum(b.tasks for b in batches) / n,
        "streaming.trigger_share_of_wall": phase("triggerExecution") * n / 1000.0 / wall,
        "ml.fits": len(fits) / n,
        "ml.fit_s": sum(f.seconds for f in fits) / n,
        "ml.fit_jobs": sum(f.jobs for f in fits) / n,
        "sources.store_files": files / (n_ops + 1),
        "sources.store_bytes": size / (n_ops + 1),
        "operators.jobs": sum(b.jobs for b in batches) / n,
        "operators.stages": sum(b.stages for b in batches) / n,
        "operators.tasks": sum(b.tasks for b in batches) / n,
        "operators.executor_run_s": sum(b.executor_run_s for b in batches) / n,
        "operators.shuffle_read_bytes": sum(b.shuffle_read_bytes for b in batches) / n,
        "operators.shuffle_write_bytes": sum(b.shuffle_write_bytes for b in batches) / n,
        "operators.spill_bytes": sum(b.spill_bytes for b in batches) / n,
    }
