"""Streaming Count-Min sketch — the incremental twin of
`sketch_count_min` (operators/sketch.py).

CM cells are ADDITIVE: sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise for
DISJOINT A, B — the count-grid merge law (grouped SUM over (r, b)), one
tier below KMV's idempotent distinct-union (overlapping replays of the
same rows would double-count; the store therefore relies on the family's
disjoint-batch contract plus the per-batch_id idempotent publish of
``store_compaction.py``, so the grid never double-counts a batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import _cm_tokens, cm_cells
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["CmStreamSketch"]

_GRID_SCHEMA = "r int, b bigint, cnt bigint"


class CmStreamSketch(MicroBatchStore):
    """Accumulates per-batch Count-Min cell grids over the document token
    stream and serves the exact whole-stream sketch."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        self.parts = PartStore(spark, store_dir, _GRID_SCHEMA, sum_merge(("r", "b"), ("cnt",)))

    def batch_grid(self, docs_df: DataFrame) -> DataFrame:
        """This batch's sketch cells (≤ depth·width rows)."""
        return cm_cells(_cm_tokens(docs_df))

    def merged(self) -> DataFrame:
        """The whole-stream sketch — bit-identical to the one-pass sketch
        under the disjointness contract."""
        return self.parts.merged()
