"""Stateful-operator restart correctness (SURVEY.md §7 hard/risky #2):
the keyed (last_price, first_price) state must survive a query stop +
restart from the same checkpoint — the change gate must NOT re-emit or
re-anchor after recovery."""

from __future__ import annotations

import pytest

from real_time_scraping_and_predicting_time_series_data_spark.sources.streams import (
    file_tick_stream,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming import pipeline
from real_time_scraping_and_predicting_time_series_data_spark.streaming.stateful import (
    streaming_ticks,
)

from tests.test_store_contract import STORES
from tests.test_streaming import _write_poll_file, state_partitions


def _run_to_parquet(spark, drop, ckpt, out):
    """The memory sink cannot recover from a checkpoint; the parquet sink
    can — use it for restart semantics."""
    q = (
        streaming_ticks(file_tick_stream(spark, drop))
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r.event_id: r for r in spark.read.parquet(out).collect()}


def test_state_survives_restart(spark, tmp_path):
    drop, ckpt, out = str(tmp_path / "drop"), str(tmp_path / "ckpt"), str(tmp_path / "out")

    # run 1: establish state (first=100 anchors variation; last=101)
    _write_poll_file(drop, "poll_000.json", [(0, 0, 1, 100.0), (1, 10, 1, 101.0)])
    first_run = _run_to_parquet(spark, drop, ckpt, out)
    assert set(first_run) == {0, 1}

    # run 2 (fresh query object, same checkpoint): a duplicate of the last
    # retained price (must be DROPPED - last_price recovered) and a new
    # price (variation must use the ORIGINAL anchor 100.0, not re-anchor)
    _write_poll_file(drop, "poll_001.json", [(2, 20, 1, 101.0), (3, 30, 1, 150.0)])
    second = _run_to_parquet(spark, drop, ckpt, out)

    assert 2 not in second, "duplicate re-emitted: last_price state lost on restart"
    assert 3 in second
    assert second[3].variation == pytest.approx(150.0 / 100.0 - 1), (
        "variation re-anchored: first_price state lost on restart"
    )
    assert set(second) == {0, 1, 3}  # committed batch-1 output not duplicated


def _run_pipeline(spark, work: str, drop: str) -> pipeline.ForecastPipeline:
    # retrain_every=1: every batch refits on the full history, so a fresh
    # pipeline object after a restart forecasts like the first one
    pipe = pipeline.ForecastPipeline(
        spark, work, lookback=3, horizon=2, retrain_every=1, min_train_rows=10
    )
    pipe.start(file_tick_stream(spark, drop)).awaitTermination(300)
    return pipe


def test_pipeline_restart_keeps_recorded_partition_count(spark, tmp_path, monkeypatch):
    """A pipeline checkpoint first started under another shuffle partition
    count (7, with the start helper bypassed) keeps that count when the
    stream restarts through the helper, and its stores equal an
    uninterrupted run's over the same poll files."""
    # integer prices, two keys: every Gram sum is exact, so the two runs'
    # forecasts can be compared bit for bit
    polls = [
        [(b * 20 + i, (b * 20 + i) * 60, 1 + i % 2, float(100 + b * 20 + i + i % 3)) for i in range(20)]
        for b in range(4)
    ]
    drop, work = str(tmp_path / "drop"), str(tmp_path / "work")
    for b in (0, 1):
        _write_poll_file(drop, f"poll_{b:03d}.json", polls[b])
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    monkeypatch.setattr(pipeline, "start_stream", lambda writer: writer.start())
    spark.conf.set(key, "7")
    try:
        _run_pipeline(spark, work, drop)
    finally:
        spark.conf.set(key, old)
        monkeypatch.undo()
    assert state_partitions(spark, f"{work}/ckpt") == 7

    for b in (2, 3):
        _write_poll_file(drop, f"poll_{b:03d}.json", polls[b])
    restarted = _run_pipeline(spark, work, drop)
    assert spark.conf.get(key) == old
    assert state_partitions(spark, f"{work}/ckpt") == 7

    drop_u, work_u = str(tmp_path / "drop_u"), str(tmp_path / "work_u")
    for b in range(4):
        _write_poll_file(drop_u, f"poll_{b:03d}.json", polls[b])
    uninterrupted = _run_pipeline(spark, work_u, drop_u)
    cores = spark.sparkContext.defaultParallelism
    assert state_partitions(spark, f"{work_u}/ckpt") == cores

    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    ticks, ledger = rows(restarted.ticks()), rows(restarted.ledger())
    assert len(ticks) == 80 and ticks == rows(uninterrupted.ticks())
    assert ledger and ledger == rows(uninterrupted.ledger())


def test_holt_winters_state_survives_restart(spark, tmp_path):
    """The (pos, level, trend, seasonal[]) Holt-Winters state — including
    the ARRAY field — must recover from the checkpoint: rows ingested
    after a restart must continue the recurrence exactly where the batch
    fold would be, not re-seed."""
    import datetime as dt

    from pyspark.sql import functions as F

    from real_time_scraping_and_predicting_time_series_data_spark.operators.rolling import (
        holt_winters,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.stateful import (
        streaming_holt_winters,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, value double"
    all_rows = [
        (i, t0 + dt.timedelta(minutes=i), 7, float(10 + (i * 3) % 7)) for i in range(12)
    ]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    def run(rows, subdir):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/{subdir}"
        )
        q = (
            streaming_holt_winters(
                spark.readStream.schema(schema).parquet(src + "/*"), period=5
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(all_rows[:7], "f0")   # run 1: seeds level + fills part of the seasonal array
    run(all_rows[7:], "f1")   # run 2: fresh query object, same checkpoint

    got = {
        r.event_id: (r.hw_level, r.hw_trend, r.hw_seasonal)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_id: (r.hw_level, r.hw_trend, r.hw_seasonal)
        for r in holt_winters(
            spark.createDataFrame(all_rows, schema), period=5
        ).collect()
    }
    assert got == want  # bit-identical across the stop/restart boundary


def test_kalman_state_survives_restart(spark, tmp_path):
    """The (x, P) Kalman state must recover from the checkpoint: rows
    ingested after a restart continue the recurrence bit-exactly where
    the batch fold would be."""
    import datetime as dt

    from real_time_scraping_and_predicting_time_series_data_spark.operators.rolling import (
        kalman_1d,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.stateful import (
        streaming_kalman_1d,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, value double"
    all_rows = [
        (i, t0 + dt.timedelta(minutes=i), 7, float(10 + (i * 3) % 7)) for i in range(12)
    ]
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    def run(rows, subdir):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{src}/{subdir}"
        )
        q = (
            streaming_kalman_1d(spark.readStream.schema(schema).parquet(src + "/*"))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(all_rows[:7], "f0")
    run(all_rows[7:], "f1")

    got = {
        r.event_id: (r.kalman_x, r.kalman_p)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_id: (r.kalman_x, r.kalman_p)
        for r in kalman_1d(spark.createDataFrame(all_rows, schema)).collect()
    }
    assert len(got) == len(want) == 12
    assert got == want


def test_quantile_store_survives_restart(spark, tmp_path):
    """Grid-store monitors recover through the CHECKPOINT, not their own
    state: a restarted attach from the same checkpoint must ingest only
    the new file (batch_id advances past the recovered offset, no re-count
    of already-published grids) and then serve the exact full-batch
    quantiles."""
    from pyspark.sql import functions as F

    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_events_value_quantiles_grid,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
        QuantileStreamAccumulator,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    acc = QuantileStreamAccumulator(spark, str(tmp_path / "store"))

    def attach_once():
        q = acc.attach(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            ckpt,
        )
        q.awaitTermination(120)

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    attach_once()
    half = sorted(tuple(r) for r in acc.serve_quantiles().collect())

    # restart: new query object, same checkpoint, one new file
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    attach_once()

    want = sorted(tuple(r) for r in q_events_value_quantiles_grid(spark, sf).collect())
    got = sorted(tuple(r) for r in acc.serve_quantiles().collect())
    assert got == want
    assert got != half  # the second run really ingested the new file


def test_seasonality_store_survives_restart(spark, tmp_path):
    """Same restart contract for the per-day seasonality store: the
    recovered offset skips the already-ingested file and the served
    spectrum equals the one-batch periodogram."""
    from pyspark.sql import functions as F

    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.timeseries import (
        q_ts_periodogram,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.seasonality_stream import (
        SeasonalityStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    mon = SeasonalityStreamMonitor(spark, str(tmp_path / "store"))

    def attach_once():
        q = mon.attach(
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            ckpt,
        )
        q.awaitTermination(120)

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    attach_once()
    n_batches_first = len(
        [d for d in __import__("os").listdir(str(tmp_path / "store")) if d.startswith("batch_id=")]
    )

    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    attach_once()
    n_batches_second = len(
        [d for d in __import__("os").listdir(str(tmp_path / "store")) if d.startswith("batch_id=")]
    )
    # exactly one new batch directory: the restart did not re-ingest file 1
    assert n_batches_second == n_batches_first + 1

    want = sorted(tuple(r) for r in q_ts_periodogram(spark, sf).collect())
    got = sorted(tuple(r) for r in mon.serve_periodogram().collect())
    assert got == want


def test_drift_store_survives_restart(spark, tmp_path):
    """Restart contract for the KS/MW/PSI/JSD drift store, completing the
    pattern across all four grid stores (drift, quantile, seasonality,
    df-index): recovered offsets skip ingested files; serve stays
    batch-exact."""
    from pyspark.sql import functions as F

    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_stats_ks_drift,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import (
        DriftStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    mon = DriftStreamMonitor(spark, str(tmp_path / "store"))

    def attach_once():
        q = mon.attach(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            ckpt,
        )
        q.awaitTermination(120)

    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    attach_once()
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    attach_once()

    want = q_stats_ks_drift(spark, sf).collect()[0].asDict()
    got = mon.serve_ks().collect()[0].asDict()
    assert got == want


@pytest.mark.parametrize("case", STORES, ids=[c.name for c in STORES])
def test_all_grid_stores_serve_before_first_batch(spark, tmp_path, case):
    """A dashboard may poll a serve before ingest starts: every store must
    serve a typed-empty relation (a global aggregate: at most one row),
    never PATH_NOT_FOUND."""
    store = case.make(spark, str(tmp_path / "store"))
    for name in case.serves:
        df = case.serve(store, name)
        assert "void" not in df.schema.simpleString(), name
        assert len(df.collect()) <= (1 if name in case.global_aggs else 0), name
