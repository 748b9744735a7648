"""Incremental exact-quantile monitor over a tick stream — the streaming
twin of `events_value_quantiles_grid` (operators/stats.py), third member
of the mergeable-grid family beside the KS drift monitor
(drift_stream.py) and the CMS accumulator (sketch_stream.py).

Each micro-batch reduces to its (event_type, v_cents, cnt) value grid;
the served grid is the grouped-sum merge of every batch's grid, and the
nearest-rank quantiles computed from it are EXACTLY the batch quantiles
over everything ingested (count addition is associative + commutative,
and a nearest-rank quantile is a pure function of the merged grid — no
interpolation, no fp, so the serve is bit-identical, not just close).

Store protocol (parts, replay guard, fold): ``store_compaction.py``. At
100 TB the per-batch state is |distinct cents in batch| rows and the
serve-side merge touches only grids — the raw stream is never re-read.
This is the "p99 latency / price percentile dashboard over unbounded
history at bounded state" production shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stats import quantiles_from_type_grid
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["QuantileStreamAccumulator"]

_GRID_SCHEMA = "event_type string, v bigint, cnt bigint"


class QuantileStreamAccumulator(MicroBatchStore):
    """Accumulates (event_type, v_cents, cnt) grids per micro-batch and
    serves exact nearest-rank quantiles over all data seen."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        value_col: str = "value",
        group_col: str = "event_type",
    ) -> None:
        self.value_col = value_col
        self.group_col = group_col
        self.parts = PartStore(
            spark, store_dir, _GRID_SCHEMA, sum_merge(("event_type", "v"), ("cnt",))
        )

    def batch_grid(self, df: DataFrame) -> DataFrame:
        """This batch's (event_type, v, cnt) grid — reduced before
        anything is stored."""
        return df.groupBy(
            F.col(self.group_col).alias("event_type"),
            F.round(F.col(self.value_col) * 100).cast("long").alias("v"),
        ).agg(F.count("*").cast("long").alias("cnt"))

    def serve_grid(self) -> DataFrame:
        """The merged value grid — identical to the batch grid of
        everything ingested; empty before the first batch."""
        return self.parts.merged()

    def serve_quantiles(self) -> DataFrame:
        """Exact per-type nearest-rank p50/p90/p99/max over everything
        ingested — bit-identical to `events_value_quantiles_grid` on the
        same ticks (shared grid-quantile core)."""
        return quantiles_from_type_grid(self.serve_grid())
