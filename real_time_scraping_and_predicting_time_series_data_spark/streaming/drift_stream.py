"""Incremental two-sample drift monitor over a document stream — the
streaming twin of `stats_ks_drift` (operators/stats.py), built on the same
mergeability argument as the CMS accumulator (sketch_stream.py): each
micro-batch reduces to its own (v, ca, cb) distinct-value count grid; the
served grid is the grouped-sum merge of every batch's grid, and the KS
statistic computed from it is EXACTLY the batch statistic over everything
ingested (count addition is associative + commutative, and the KS supremum
is a pure function of the merged grid).

Store protocol (parts, replay guard, fold): ``store_compaction.py``. At
100 TB the per-batch state is |distinct values in batch| rows and the
serve-side merge touches only grids — the raw stream is never re-read.
This is the production shape for "alert when a new source's distribution
drifts from the reference corpus" gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stats import (
    jsd_from_value_grid,
    ks_from_value_grid,
    mann_whitney_from_value_grid,
    psi_from_value_grid,
)
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["DriftStreamMonitor"]


class DriftStreamMonitor(MicroBatchStore):
    """Accumulates (value, count_a, count_b) grids per micro-batch and
    serves the exact two-sample KS distance over all data seen."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        value_col: str = "n_chars",
        group_col: str = "source",
        group_a: str = "src0",
        group_b: str = "src1",
        value_type: str = "bigint",
    ) -> None:
        self.value_col = value_col
        self.group_col = group_col
        self.group_a = group_a
        self.group_b = group_b
        # value_type follows the configured value column; counts are long
        self.grid_schema = f"v {value_type}, ca bigint, cb bigint"
        self.parts = PartStore(
            spark, store_dir, self.grid_schema, sum_merge(("v",), ("ca", "cb"))
        )

    def batch_grid(self, df: DataFrame) -> DataFrame:
        """This batch's (v, ca, cb) value grid — same tagging as the batch
        query, reduced before anything is stored."""
        tagged = df.filter(
            F.col(self.group_col).isin(self.group_a, self.group_b)
        ).select(
            F.col(self.value_col).alias("v"),
            F.when(F.col(self.group_col) == self.group_a, 1).otherwise(0).alias("a"),
            F.when(F.col(self.group_col) == self.group_b, 1).otherwise(0).alias("b"),
        )
        return tagged.groupBy("v").agg(
            F.sum("a").cast("long").alias("ca"), F.sum("b").cast("long").alias("cb")
        )

    def serve_grid(self) -> DataFrame:
        """The merged value grid — identical to the batch grid of
        everything ingested; an empty grid before the first batch (the
        downstream statistics define the degenerate-grid case)."""
        return self.parts.merged()

    def serve_ks(self) -> DataFrame:
        """Exact KS distance over all data seen — bit-identical to
        `stats_ks_drift` run as one batch over the same rows."""
        return ks_from_value_grid(self.serve_grid())

    def serve_mann_whitney(self) -> DataFrame:
        """Exact tie-corrected Mann-Whitney U over all data seen —
        bit-identical to `stats_mann_whitney` run as one batch (the same
        value grid feeds both statistics; one store serves both gates)."""
        return mann_whitney_from_value_grid(self.serve_grid())

    def serve_psi(self) -> DataFrame:
        """Exact quartile-binned PSI over all data seen — bit-identical to
        `stats_psi_drift` run as one batch (third statistic off the same
        mergeable grid; reference cuts re-derive from the merged ca
        counts, so they move as reference data accumulates, exactly as a
        batch recomputation would)."""
        return psi_from_value_grid(self.serve_grid())

    def serve_jsd(self) -> DataFrame:
        """Exact Jensen-Shannon divergence over all data seen —
        bit-identical to `stats_js_divergence` run as one batch (fourth
        statistic off the same mergeable grid; JSD\'s per-value terms are
        pure functions of the merged counts, so mergeability carries over
        unchanged)."""
        return jsd_from_value_grid(self.serve_grid())
