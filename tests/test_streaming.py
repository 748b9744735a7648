"""Streaming tests (SURVEY.md §5.3): micro-batch replay through the file
source with availableNow, batch/stream parity, watermark late-data
behavior, and the full E2 pipeline."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark.operators.timeseries import (
    anchored_variation,
    change_dedup,
)
from real_time_scraping_and_predicting_time_series_data_spark.sources.streams import (
    TICK_SCHEMA,
    file_tick_stream,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.pipeline import (
    ForecastPipeline,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.stateful import (
    streaming_ticks,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.windows import (
    dedup_within_watermark,
    session_stats,
    tumbling_stats,
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_poll_file(drop_dir: str, name: str, rows: list[tuple[int, int, int, float]]):
    """One poll file = one micro-batch (maxFilesPerTrigger=1). The file
    source orders batches by modification time, so stamp increasing mtimes
    to make replay order deterministic."""
    os.makedirs(drop_dir, exist_ok=True)
    path = os.path.join(drop_dir, name)
    with open(path, "w") as f:
        for eid, sec, uid, val in rows:
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "ts": (BASE + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
                        "user_id": uid,
                        "value": val,
                    }
                )
                + "\n"
            )
    seq = int("".join(c for c in name if c.isdigit()) or 0)
    t = 1_700_000_000 + seq * 10
    os.utime(path, (t, t))


# tick stream with consecutive dups across batch boundaries (the hard case:
# the gate state must survive between micro-batches)
BATCH_1 = [(0, 0, 1, 100.0), (1, 5, 1, 100.0), (2, 10, 1, 101.0), (3, 0, 2, 50.0)]
BATCH_2 = [(4, 15, 1, 101.0), (5, 20, 1, 99.0), (6, 10, 2, 50.0), (7, 20, 2, 51.0)]


def _run_stream(spark, tmp_path, transform, out_name):
    drop = str(tmp_path / "drop")
    _write_poll_file(drop, "poll_000.json", BATCH_1)
    _write_poll_file(drop, "poll_001.json", BATCH_2)
    stream = file_tick_stream(spark, drop)
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName(out_name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {out_name}")


def test_stateful_gate_matches_batch_operators(spark, tmp_path):
    """Batch/stream parity: the stateful P2+P3 gate over micro-batches must
    equal the batch change_dedup+anchored_variation on the union."""
    got = _run_stream(spark, tmp_path, streaming_ticks, "gate_out").collect()

    all_rows = [
        (eid, BASE + dt.timedelta(seconds=sec), uid, val) for eid, sec, uid, val in BATCH_1 + BATCH_2
    ]
    batch_df = spark.createDataFrame(all_rows, TICK_SCHEMA)
    want = anchored_variation(change_dedup(batch_df)).collect()

    got_map = {r.event_id: (r.value, round(r.variation, 12)) for r in got}
    want_map = {r.event_id: (r.value, round(r.variation, 12)) for r in want}
    assert got_map == want_map
    # dups 1 and 6 dropped, 4 dropped (dup of 2 across the batch boundary)
    assert set(got_map) == {0, 2, 3, 5, 7}


def test_streaming_first_variation_zero(spark, tmp_path):
    out = _run_stream(spark, tmp_path, streaming_ticks, "gate_out2").collect()
    firsts = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.ts)):
        firsts.setdefault(r.user_id, r.variation)
    assert all(v == 0.0 for v in firsts.values())


def test_tumbling_stats_watermark(spark, tmp_path):
    """Append-mode windows emit only once the watermark passes their end;
    rows arriving behind the watermark are dropped (late data)."""
    drop = str(tmp_path / "drop")
    _write_poll_file(drop, "poll_000.json", BATCH_1)
    _write_poll_file(drop, "poll_001.json", BATCH_2)
    # batch 3: watermark pusher at t=600s + one LATE row at t=2s (behind the
    # 5 s watermark once the pusher is seen -> must be dropped)
    _write_poll_file(drop, "poll_002.json", [(8, 600, 1, 42.0)])
    _write_poll_file(drop, "poll_003.json", [(9, 2, 1, 999.0)])
    stream = file_tick_stream(spark, drop)
    q = (
        tumbling_stats(stream, window="10 seconds", watermark="5 seconds")
        .writeStream.format("memory")
        .queryName("tumb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM tumb").collect()
    rows = {(r.user_id, r.bucket_start.second): r for r in out}
    # user 1, bucket [0,10): events at 0,5 (100,100) — late row 999 dropped
    r = rows[(1, 0)]
    assert r.n_ticks == 2 and r.open == 100.0 and r.close == 100.0 and r.high == 100.0
    r = rows[(1, 10)]  # events at 10,15 -> 101,101
    assert r.n_ticks == 2 and r.low == 101.0 and r.high == 101.0
    assert (2, 0) in rows and rows[(2, 0)].n_ticks == 1  # user 2 at t=0
    assert (2, 10) in rows and rows[(2, 10)].n_ticks == 1  # user 2 at t=10


def test_dedup_within_watermark_drops_redelivery(spark, tmp_path):
    drop = str(tmp_path / "drop")
    _write_poll_file(drop, "poll_000.json", [(0, 0, 1, 100.0), (1, 5, 1, 101.0)])
    # same event_id redelivered in the same file (at-least-once source)
    _write_poll_file(drop, "poll_001.json", [(1, 5, 1, 101.0), (2, 10, 1, 102.0)])
    stream = file_tick_stream(spark, drop)
    q = (
        dedup_within_watermark(stream, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("ddw")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT event_id FROM ddw").collect()
    assert sorted(r.event_id for r in out) == [0, 1, 2]


def test_session_stats_gap_split(spark, tmp_path):
    drop = str(tmp_path / "drop")
    # two bursts separated by > 5 min of silence
    _write_poll_file(
        drop,
        "poll_000.json",
        [(0, 0, 1, 1.0), (1, 30, 1, 2.0), (2, 1000, 1, 3.0), (3, 1030, 1, 4.0)],
    )
    # watermark pusher so both sessions finalize under append mode
    _write_poll_file(drop, "poll_001.json", [(4, 20000, 2, 0.0)])
    stream = file_tick_stream(spark, drop)
    q = (
        session_stats(stream, gap="5 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM sess WHERE user_id = 1 ORDER BY session_start").collect()
    assert len(out) == 2
    assert out[0].n_ticks == 2 and out[1].n_ticks == 2


def test_forecast_pipeline_end_to_end(spark, tmp_path):
    """E2 twin: files → stateful gate → retrain cadence → forecast ledger →
    FIFO scoring → graceful export of the three CSV stores (S6)."""
    drop = str(tmp_path / "drop")
    # 3 poll files × 20 ticks, one key, learnable series value = 100 + t
    for b in range(3):
        rows = [(b * 20 + i, (b * 20 + i) * 60, 1, 100.0 + b * 20 + i) for i in range(20)]
        _write_poll_file(drop, f"poll_{b:03d}.json", rows)

    pipe = ForecastPipeline(
        spark, str(tmp_path / "work"), lookback=4, horizon=2, retrain_every=10, min_train_rows=20
    )
    q = pipe.start(file_tick_stream(spark, drop))
    q.awaitTermination(300)

    assert pipe.ticks().count() == 60  # strictly increasing: nothing deduped
    ledger = pipe.ledger()
    assert ledger is not None and ledger.count() > 0
    assert set(ledger.select("step").distinct().toPandas()["step"]) == {1, 2}
    # model learned the linear trend: step-1 forecasts near value+1
    rmse = pipe.rmse_history()
    assert rmse is not None
    last = rmse.filter(F.col("step") == 1).orderBy(F.desc("batch_id")).limit(1).collect()[0]
    assert last.rmse < 5.0

    counts = pipe.stop_and_export(str(tmp_path / "export"))
    assert counts["actual_prices"] == 60
    assert counts["rmse_history"] >= 1
    assert (tmp_path / "export" / "forecast_comparison").exists()


def state_partitions(spark, ckpt: str) -> int:
    """State-store partitions of the checkpoint's one stateful operator."""
    (op,) = spark.read.format("state-metadata").load(ckpt).collect()
    return op.numPartitions


def test_pipeline_state_spans_one_partition_per_core(spark, tmp_path):
    """The pipeline's stream starts with one shuffle (so state) partition
    per core whatever the session's batch setting, and the session keeps
    its own setting."""
    drop = str(tmp_path / "drop")
    _write_poll_file(drop, "poll_000.json", BATCH_1)
    _write_poll_file(drop, "poll_001.json", BATCH_2)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        pipe = ForecastPipeline(spark, str(tmp_path / "work"))
        q = pipe.start(file_tick_stream(spark, drop))
        assert spark.conf.get(key) == "7"
        q.awaitTermination(300)
    finally:
        spark.conf.set(key, old)
    cores = spark.sparkContext.defaultParallelism
    assert cores != 7
    assert state_partitions(spark, str(tmp_path / "work" / "ckpt")) == cores
    assert pipe.ticks().count() == 5  # the gate kept {0, 2, 3, 5, 7}


def test_update_and_complete_output_modes(spark, tmp_path):
    """Running per-key aggregation through the two non-append output modes:
    update emits only groups changed by each batch (so a key touched twice
    appears twice in the sink); complete re-emits the full state, whose last
    emission must equal the batch recompute over all input."""
    drop = str(tmp_path / "drop")
    _write_poll_file(drop, "poll_000.json", BATCH_1)
    _write_poll_file(drop, "poll_001.json", BATCH_2)
    stream = file_tick_stream(spark, drop)
    counts = stream.groupBy("user_id").count()

    for mode, name in (("update", "upd_out"), ("complete", "cmp_out")):
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{mode}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    want = {(1, 5), (2, 3)}  # batch recompute over BATCH_1 + BATCH_2

    upd = [(r.user_id, r["count"]) for r in spark.sql("SELECT * FROM upd_out").collect()]
    # both keys updated in both batches -> two emissions per key
    assert sorted(k for k, _ in upd) == [1, 1, 2, 2]
    latest_upd = {}
    for k, c in upd:
        latest_upd[k] = max(c, latest_upd.get(k, 0))
    assert set(latest_upd.items()) == want

    cmp_rows = [(r.user_id, r["count"]) for r in spark.sql("SELECT * FROM cmp_out").collect()]
    # complete mode: the final emission holds the full, correct state
    latest_cmp = {}
    for k, c in cmp_rows:
        latest_cmp[k] = max(c, latest_cmp.get(k, 0))
    assert set(latest_cmp.items()) == want
