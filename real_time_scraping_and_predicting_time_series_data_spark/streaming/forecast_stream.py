"""Incremental AR(2) model store — the WARM-START twin of the reference's
retrain loop (M2): the reference keeps its LSTM weights across retrains
(lvmh_forecaster2.py:90-104 — ``fit`` without rebuilding the model) but
still refits over FULL history each cadence; the engine's batch refit
(`ml_linear_forecast_eval`) was semantically equal yet also O(history)
per retrain.  This store closes the incremental gap: the lag-AR normal
equations are a sum of per-row outer products, so each micro-batch
publishes only its 12 exact BIGINT Gram moments and a retrain is a
grouped SUM over the tiny moment grids + the shared 3×3 adjugate solve —
O(batch) work and O(1) state, while the served coefficients are
BIT-IDENTICAL to the batch full-history refit (integer moments are exact
under any batch split or combine order; no rounding enters before the
solve).  This is recursive least squares in its sufficient-statistics
form: RLS's rank-1 covariance updates and the Gram re-solve compute the
same estimator, but summed integer moments are exactly mergeable where
RLS's float recursion is order-sensitive — the right trade for a
distributed store under an oracle.

Store protocol: ``store_compaction.py``; the moment grids fold by the
grouped-sum merge, after which the store is 12 rows regardless of stream
lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["ForecastGramStore", "MOMENT_KEYS"]

_SCHEMA = "k string, v long"

# The 12 sufficient statistics of the two-horizon AR(2) normal equations
# (design [1, x1, x2], targets y1/y2) — the exact-integer moment set
# `ml_linear_forecast_eval` aggregates in one pass.
MOMENT_KEYS = (
    "n", "s1", "s2", "s11", "s12", "s22",
    "sy1", "s1y1", "s2y1", "sy2", "s1y2", "s2y2",
)


def moment_grid(t: DataFrame) -> DataFrame:
    """The 12-row (k, v) moment grid of a feature relation carrying
    complete rows (x1, x2, y1, y2) — BIGINT sums, exact below 2^53."""
    x1, x2, y1, y2 = (F.col(c) for c in ("x1", "x2", "y1", "y2"))
    g = t.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x1).cast("long").alias("s1"),
        F.sum(x2).cast("long").alias("s2"),
        F.sum(x1 * x1).cast("long").alias("s11"),
        F.sum(x1 * x2).cast("long").alias("s12"),
        F.sum(x2 * x2).cast("long").alias("s22"),
        F.sum(y1).cast("long").alias("sy1"),
        F.sum(x1 * y1).cast("long").alias("s1y1"),
        F.sum(x2 * y1).cast("long").alias("s2y1"),
        F.sum(y2).cast("long").alias("sy2"),
        F.sum(x1 * y2).cast("long").alias("s1y2"),
        F.sum(x2 * y2).cast("long").alias("s2y2"),
    )
    pairs = F.array(
        *[F.struct(F.lit(k).alias("k"), F.col(k).alias("v")) for k in MOMENT_KEYS]
    )
    return g.select(F.explode(pairs).alias("p")).select("p.k", "p.v")


class ForecastGramStore(MicroBatchStore):
    """Mergeable sufficient-statistics store for the two-horizon AR(2)
    forecaster; ``coefficients()`` is the O(batch)-retrain serve."""

    def __init__(self, spark: SparkSession, store_dir: str):
        self.parts = PartStore(spark, store_dir, _SCHEMA, sum_merge(("k",), ("v",)))

    def batch_grid(self, t: DataFrame) -> DataFrame:
        """This batch's 12-row moment grid (tiny regardless of batch
        size).  ``t`` carries complete feature rows (x1, x2, y1, y2); an
        empty batch publishes zero moments (count 0), which merge as the
        identity."""
        return moment_grid(t)

    def serve_moments(self) -> DataFrame:
        """Merged moments as ONE row of named BIGINT columns — identical
        to the batch one-pass aggregate over the union of all ingested
        feature rows (integer sums commute with the batch split)."""
        grid = self.parts.merged()
        return grid.agg(
            *[
                F.coalesce(F.max(F.when(F.col("k") == k, F.col("v"))), F.lit(0))
                .cast("long")
                .alias(k)
                for k in MOMENT_KEYS
            ]
        )

    def coefficients(self) -> DataFrame:
        """The warm retrain: solve the two 3×3 normal systems from the
        merged moments — the SAME `_lc_solve3` adjugate parenthesization
        as the batch refit, so coefficients are bit-identical to
        refitting over full history.  Degenerate designs (det = 0) yield
        an empty relation on both engines (the `ml_linear_forecast_eval`
        guard)."""
        from ..ml.forecast import _lc_solve3  # noqa: PLC0415

        g = self.serve_moments()
        d = lambda c: F.col(c).cast("double")  # noqa: E731
        b01, b11, b21 = _lc_solve3(
            d("n"), d("s1"), d("s2"), d("s11"), d("s12"), d("s22"),
            d("sy1"), d("s1y1"), d("s2y1"),
        )
        b02, b12, b22 = _lc_solve3(
            d("n"), d("s1"), d("s2"), d("s11"), d("s12"), d("s22"),
            d("sy2"), d("s1y2"), d("s2y2"),
        )
        coef = g.select(
            b01.alias("b01"), b11.alias("b11"), b21.alias("b21"),
            b02.alias("b02"), b12.alias("b12"), b22.alias("b22"),
        )
        return coef.filter(F.col("b01").isNotNull())
