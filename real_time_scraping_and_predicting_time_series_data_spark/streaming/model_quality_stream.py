"""Incremental model-quality monitor — the streaming twin of the
classifier-eval panel (`ml_roc_auc` / `ml_pr_auc`, operators/stats.py).

The deployment shape: a FROZEN classifier (coefficients fixed at deploy
time) scores every incoming labeled document, and the serving layer must
answer "what is the model's ROC AUC / average precision over everything
seen so far?" without ever re-reading the stream.  The per-batch state is
the quantized (pc, pos, neg) score grid — bounded at 1e6+1 cells no matter
how much data arrives — and grids merge by grouped sum (associative +
commutative), so the served AUC is EXACTLY the batch AUC over all ingested
rows: `roc_auc_from_grid` is a pure function of the merged grid and its 2U
numerator is BIGINT arithmetic, bit-identical, not just close.  Store
protocol: ``store_compaction.py``.

Reference fidelity note: the reference's eval loop recomputes a rolling
RMSE over its whole in-memory ledger each round (lvmh_forecaster2.py:
169-208, O(n) per tick); this monitor is the classifier-metric analogue
with O(|grid|) state and O(batch) incremental work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.stats import (
    average_precision_from_grid,
    roc_auc_from_grid,
    score_grid_from_documents,
)
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["ModelQualityStreamMonitor"]

_GRID_SCHEMA = "pc bigint, pos bigint, neg bigint"


class ModelQualityStreamMonitor(MicroBatchStore):
    """Accumulates quantized (pc, pos, neg) score grids of a FROZEN
    logistic classifier per micro-batch and serves exact ranking metrics
    (ROC AUC, average precision, best F1) over all labeled rows seen."""

    def __init__(
        self, spark: SparkSession, store_dir: str, w0: float, w1: float, w2: float
    ) -> None:
        self.w = (float(w0), float(w1), float(w2))
        self.parts = PartStore(
            spark, store_dir, _GRID_SCHEMA, sum_merge(("pc",), ("pos", "neg"))
        )

    def batch_grid(self, docs_df: DataFrame) -> DataFrame:
        """This batch's (pc, pos, neg) grid — reduced before storage."""
        return score_grid_from_documents(docs_df, *self.w)

    def serve_grid(self) -> DataFrame:
        """The merged score grid — identical to scoring everything
        ingested in one batch."""
        return self.parts.merged()

    def serve_roc_auc(self) -> DataFrame:
        """(n_pos, n_neg, auc_num2, auc) over everything ingested —
        bit-identical to `ml_roc_auc` when the frozen coefficients equal
        the trained ones (shared `roc_auc_from_grid` core, BIGINT 2U)."""
        return roc_auc_from_grid(self.serve_grid())

    def serve_pr_auc(self) -> DataFrame:
        """(n_pos, n_neg, pr_auc, best_f1) over everything ingested —
        shared `average_precision_from_grid` core with `ml_pr_auc`."""
        return average_precision_from_grid(self.serve_grid())
