"""Incremental seasonality monitor over a tick stream — the streaming twin
of `ts_periodogram` (operators/timeseries.py), on the same mergeability
argument as the KS/PSI/JSD drift monitor (drift_stream.py): each
micro-batch reduces to a per-day (cents-sum, count) grid; grouped sums
merge the grids; daily MEANS re-derive from the merged sums exactly as the
batch query computes them, so the served spectrum is bit-identical to
`ts_periodogram` run as one batch over everything ingested.

This is the production shape for "alert when a weekly cycle appears in the
ingest rate" / "has the seasonality of this metric changed since the model
was fit" gates: per-batch state is |distinct days in batch| rows, the
serve-side spectrum touches only the merged grid (bounded by the calendar,
not the ticks), and the raw stream is never re-read.  Store protocol:
``store_compaction.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.timeseries import (
    periodogram_from_daily,
    spectral_entropy_from_daily,
    var_es_from_daily,
)
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["SeasonalityStreamMonitor"]

_GRID_SCHEMA = "day int, sv bigint, n bigint"


class SeasonalityStreamMonitor(MicroBatchStore):
    """Accumulates per-day (cents-sum, count) grids per micro-batch and
    serves the exact batch periodogram over all data seen."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        value_col: str = "value",
        ts_col: str = "ts",
        event_type: str | None = "purchase",
    ) -> None:
        self.value_col = value_col
        self.ts_col = ts_col
        self.event_type = event_type
        self.parts = PartStore(spark, store_dir, _GRID_SCHEMA, sum_merge(("day",), ("sv", "n")))

    def batch_grid(self, df: DataFrame) -> DataFrame:
        """This batch's (day, sv, n) grid — the exact-cents convention of
        the batch query, reduced before anything is stored."""
        if self.event_type is not None:
            df = df.filter(F.col("event_type") == self.event_type)
        vi = df.select(
            F.datediff(
                F.col(self.ts_col).cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day"),
            F.round(F.col(self.value_col) * 100).cast("long").alias("v"),
        )
        return vi.groupBy("day").agg(
            F.sum("v").cast("long").alias("sv"),
            F.count("*").cast("long").alias("n"),
        )

    def serve_daily(self) -> DataFrame:
        """The merged daily-mean grid: means re-derived from the EXACT
        merged integer sums — identical doubles to the batch query's daily
        means."""
        return self.parts.merged().select(
            "day",
            (F.col("sv").cast("double") / (F.lit(100.0) * F.col("n"))).alias("m"),
        )

    def serve_periodogram(self) -> DataFrame:
        """Exact periodogram over all data seen — bit-identical to
        `ts_periodogram` run as one batch on the same ticks."""
        return periodogram_from_daily(self.serve_daily())

    def serve_var_es(self) -> DataFrame:
        """Exact historical VaR95/ES over all data seen — bit-identical to
        `ts_var_es` run as one batch (second statistic off the same
        mergeable per-day store; returns re-derive from merged daily
        means, so mergeability carries over)."""
        return var_es_from_daily(self.serve_daily())

    def serve_spectral_entropy(self) -> DataFrame:
        """Exact spectral entropy over all data seen — bit-identical to
        `ts_spectral_entropy` run as one batch (third statistic off the
        same per-day store: entropy is a pure function of the served
        periodogram powers)."""
        return spectral_entropy_from_daily(self.serve_daily())
