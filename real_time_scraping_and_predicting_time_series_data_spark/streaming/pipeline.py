"""The full reference pipeline (E2) as a Structured Streaming job.

``lvmh_forecaster2.py:338-390`` runs: drain queue → maybe retrain (every 10
new rows) → forecast next H steps → as-of-align forecasts with actuals →
rolling RMSE → plot → on shutdown, export 3 CSVs. This module is the
Spark-native twin:

source stream → stateful change-dedup+variation (P2/P3) →
``foreachBatch``:
  1. append ticks to the tick store (parquet — S5, the multi-sink tee O2);
  2. count-based retrain trigger (W5): refit the lag-feature linear model
     over full history every ``retrain_every`` new rows (M2's
     full-history warm refit, distributed);
  3. inference (M3): per-key tail window → H-step forecasts appended to
     the forecast ledger with synthetic future event-times
     (``forecaster:162,181`` P10);
  4. scoring (J1+A1): FIFO as-of alignment of ledger vs. arrived actuals,
     per-key RMSE appended to the metrics store (M4);
graceful stop (O3): stop the query, flush the three stores to CSV exactly
like ``export_data`` (``forecaster:187-211``, S6).

Stores are parquet directories (columnar, partitioned appends — the scale
answer to the reference's O(n²) ``pd.concat`` ingest), with CSV only as the
final export format for fidelity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..ml.forecast import LinearForecaster, lag_features
from ..operators.asof import asof_join
from ..operators.timeseries import tail_window
from ..session import start_stream
from .stateful import _OUT_SCHEMA, streaming_ticks

__all__ = ["ForecastPipeline"]

# The columns each store is written with; reads name them, so a read lists
# files but runs no schema-inference job.
_LEDGER_SCHEMA = (
    "user_id bigint, made_at timestamp, target_ts timestamp, step int, forecasted_value double"
)
_RMSE_SCHEMA = "user_id bigint, step int, rmse double, n_scored bigint, batch_id int"


class ForecastPipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        lookback: int = 5,
        horizon: int = 3,
        retrain_every: int = 10,
        min_train_rows: int = 30,
    ) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.lookback = lookback
        self.horizon = horizon
        self.retrain_every = retrain_every
        self.min_train_rows = min_train_rows
        self.ticks_path = os.path.join(work_dir, "ticks")
        self.ledger_path = os.path.join(work_dir, "forecasts")
        self.rmse_path = os.path.join(work_dir, "rmse")
        self.model: LinearForecaster | None = None
        self.new_rows_since_train = 0  # forecaster:28 new_data_count
        self.query = None

    # -- store accessors ----------------------------------------------------

    def _read_or_none(self, path: str, schema: StructType | str) -> DataFrame | None:
        """The store at ``path``, or ``None`` before its first write."""
        if not os.path.isdir(path):
            return None
        return self.spark.read.schema(schema).parquet(path)

    def ticks(self) -> DataFrame | None:
        return self._read_or_none(self.ticks_path, _OUT_SCHEMA)

    def ledger(self) -> DataFrame | None:
        return self._read_or_none(self.ledger_path, _LEDGER_SCHEMA)

    def rmse_history(self) -> DataFrame | None:
        return self._read_or_none(self.rmse_path, _RMSE_SCHEMA)

    # -- per-batch logic (the forecaster main loop) -------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # The batch is the stateful gate's output: persist it so the count
        # and the tick-store write run the gate once, not once each.
        batch_df.persist()
        try:
            self._process_gated(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _process_gated(self, batch_df: DataFrame, batch_id: int) -> None:
        n_new = batch_df.count()
        if n_new == 0:
            return
        # 1. tee to the tick store (S4 ingest + S5 sink, O2 tee)
        batch_df.write.mode("append").parquet(self.ticks_path)
        self.new_rows_since_train += n_new

        history = self.ticks()
        n_hist = history.count()

        # 2. count-based retrain cadence (W5, forecaster:355-357)
        if (
            self.new_rows_since_train >= self.retrain_every
            and n_hist >= self.min_train_rows
        ):
            feats = lag_features(
                history, lookback=self.lookback, horizon=self.horizon
            )
            if feats.limit(1).count() > 0:
                self.model = LinearForecaster(
                    lookback=self.lookback, horizon=self.horizon
                ).fit(feats)
                self.new_rows_since_train = 0

        # 3. forecast from each key's tail window (W2 + M3)
        if self.model is not None:
            tails = lag_features(
                history, lookback=self.lookback, horizon=0
            )
            latest = tail_window(tails, 1)
            preds = self.model.predict(latest)
            rows = []
            for j in range(1, self.horizon + 1):
                rows.append(
                    preds.select(
                        "user_id",
                        F.col("ts").alias("made_at"),
                        # synthetic future event-time (forecaster:162,181 P10)
                        (F.col("ts") + F.expr(f"INTERVAL {j} MINUTES")).alias("target_ts"),
                        F.lit(j).alias("step"),
                        F.col(f"pred_{j}").alias("forecasted_value"),
                    )
                )
            ledger_rows = rows[0]
            for r in rows[1:]:
                ledger_rows = ledger_rows.unionByName(r)
            ledger_rows.write.mode("append").parquet(self.ledger_path)

        # 4. score the ledger against arrived actuals (J1 as-of + A1 RMSE):
        # each forecast targets target_ts = made_at + j minutes
        # (forecaster:162,181); its actual is the latest tick at/before
        # target_ts that arrived AFTER the forecast was made.
        ledger = self.ledger()
        if ledger is not None:
            to_score = ledger.select(
                "user_id",
                F.col("target_ts").alias("ts"),
                F.monotonically_increasing_id().alias("event_id"),
                "made_at",
                "step",
                "forecasted_value",
            )
            actuals = history.select("user_id", "ts", "event_id", "value")
            aligned = asof_join(
                to_score, actuals, on="user_id", ts="ts", right_value_cols=("value", "ts")
            )
            scored = aligned.filter(
                F.col("value_right").isNotNull() & (F.col("ts_right") > F.col("made_at"))
            )
            out = scored.groupBy("user_id", "step").agg(
                F.sqrt(F.avg(F.pow(F.col("forecasted_value") - F.col("value_right"), 2))).alias(
                    "rmse"
                ),
                F.count("*").alias("n_scored"),
            )
            out.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                self.rmse_path
            )

    # -- lifecycle (O3) -----------------------------------------------------

    def start(self, raw_ticks: DataFrame, checkpoint: str | None = None, trigger: dict | None = None):
        """Wire source → stateful gate → foreachBatch and start the query."""
        gated = streaming_ticks(raw_ticks)
        writer = (
            gated.writeStream.foreachBatch(self.process_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint or os.path.join(self.work_dir, "ckpt"))
        )
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        self.query = start_stream(writer)
        return self.query

    def stop_and_export(self, export_dir: str) -> dict[str, int]:
        """Graceful shutdown + flush (O3 + S6): the reference's
        ``export_data`` writes actuals, forecast comparison, and RMSE
        history CSVs (``forecaster:187-211``)."""
        if self.query is not None and self.query.isActive:
            self.query.stop()
        counts = {}
        for name, df in (
            ("actual_prices", self.ticks()),
            ("forecast_comparison", self.ledger()),
            ("rmse_history", self.rmse_history()),
        ):
            if df is not None:
                df.coalesce(1).write.mode("overwrite").option("header", True).csv(
                    os.path.join(export_dir, name)
                )
                counts[name] = df.count()
        return counts
