"""Streaming continuous aggregate — the streaming twin of
``operators/rolling.py::hypertable_rollup``.

A TimescaleDB-style continuous aggregate maintained incrementally:

- **ingest**: each micro-batch is aggregated to *composable minute partials*
  (count, sum, min, max per (key, minute bucket)) and published as the
  batch's part — per batch this touches only the batch's own buckets,
  never the history;
- **serve**: readers merge the store's partials (sum of sums, ...) at any
  requested resolution (minute/hour/day). Merging collapses the duplicate
  partial rows that arise when a bucket spans micro-batches, so appends
  never need read-modify-write — the store is append-only like the
  reference's tick table (``asyncio scraping.py:61``), but O(batch) per
  append instead of O(history);
- **compact**: folds the parts with duplicates pre-merged (the minute
  merge law), bounding the store at one row per (key, bucket).

Replay safety, the fold and its crash windows are the shared store
protocol (``store_compaction.py``). At 100 TB the store is hive-partitioned
by bucket date and the serve-side merge touches only the requested time
range; correctness does not depend on when (or whether) compaction ran —
serve-after-append equals a batch recompute from raw, which the parity
test asserts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store_compaction import MicroBatchStore, PartStore

__all__ = ["ContinuousAggregate"]


def _partial_aggs():
    return (
        F.count("*").alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )


def _merge_aggs():
    return (
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )


class ContinuousAggregate(MicroBatchStore):
    """Incrementally-maintained multi-resolution aggregate over a keyed tick
    stream (columns: ``user_id``, ``ts``, ``value``)."""

    def __init__(self, spark: SparkSession, store_dir: str, key: str = "user_id") -> None:
        self.key = key
        self.parts = PartStore(
            spark,
            os.path.join(store_dir, "minute_partials"),
            f"{key} bigint, bucket timestamp, n bigint, s double, mn double, mx double",
            lambda df: df.groupBy(key, "bucket").agg(*_merge_aggs()),
        )

    def batch_grid(self, batch_df: DataFrame) -> DataFrame:
        """This batch's minute partials."""
        return batch_df.groupBy(
            self.key, F.date_trunc("minute", "ts").alias("bucket")
        ).agg(*_partial_aggs())

    def partials(self) -> DataFrame:
        """The live partial rows; empty before the first batch."""
        return self.parts.read()

    def serve(self, resolution: str = "minute") -> DataFrame:
        """Merged view at ``minute``/``hour``/``day`` resolution: one grouped
        aggregate over the stored partials (never over raw ticks)."""
        merged = (
            self.partials()
            .groupBy(self.key, F.date_trunc(resolution, "bucket").alias("bucket"))
            .agg(*_merge_aggs())
        )
        return merged.select(
            self.key,
            "bucket",
            F.col("n").alias("n_events"),
            F.col("s").alias("total_value"),
            (F.col("s") / F.col("n")).alias("avg_value"),
            F.col("mn").alias("min_value"),
            F.col("mx").alias("max_value"),
        )
