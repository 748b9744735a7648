"""Streaming SPRT monitor — the incremental twin of `stats_sprt_monitor`
(operators/stats.py).

Wald's SPRT is BY CONSTRUCTION a streaming procedure (look after every
observation, stop at the first boundary crossing); this store makes the
Spark implementation actually incremental.  The mergeable state is the
(day, n, u) counting grid — per-batch grids accumulate by grouped SUM, so
as long as micro-batches partition the order stream (the count grids'
disjointness contract, same as the drift/quantile stores), the served
trajectory is bit-identical to the batch query over everything ingested:
the LLR is a BIGINT dot product of the merged cumulative counts with the
nano-quantized constants, so there is no float state to drift.

State is bounded by |distinct days| (calendar), not |orders|.  Store
protocol: ``store_compaction.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.stats import sprt_day_grid, sprt_readout_from_day_grid
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["SprtStreamMonitor"]

_GRID_SCHEMA = "day date, n bigint, u bigint"


class SprtStreamMonitor(MicroBatchStore):
    """Accumulates the daily SPRT counting grid per micro-batch and serves
    the exact cumulative-LLR trajectory over all orders seen."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        self.parts = PartStore(spark, store_dir, _GRID_SCHEMA, sum_merge(("day",), ("n", "u")))

    def batch_grid(self, orders_df: DataFrame) -> DataFrame:
        return sprt_day_grid(orders_df)

    def serve_grid(self) -> DataFrame:
        """Merged (day, n, u) grid."""
        return self.parts.merged()

    def serve_trajectory(self) -> DataFrame:
        """The SPRT trajectory (day, n_orders, n_urgent, llr, decision) up
        to the first crossing — bit-identical to `stats_sprt_monitor` on
        the same orders (shared `sprt_readout_from_day_grid` core)."""
        return sprt_readout_from_day_grid(self.serve_grid())
