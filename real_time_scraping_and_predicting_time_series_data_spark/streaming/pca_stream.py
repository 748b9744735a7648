"""Incremental Gram accumulator over an embedding stream — the streaming
twin of the spectral audit (`embedding_pca_power`): embeddings arrive in
micro-batches, per-batch UNROUNDED partial Gram sums accumulate, and the
serve runs the identical rounded power iteration over the merged matrix.

Mergeability argument: the Gram is a sum of per-row outer products, so a
batch's partial sums merge into the total by grouped SUM — associative and
(after the single serve-time 6dp rounding) order-insensitive within the
established float canon.  Rounding is deferred to the TOTAL on purpose:
per-batch rounding errors (≤5e-7 each) would accumulate past the 6dp canon
after a handful of batches, whereas unrounded partials differ from the
one-pass batch sum only in summation ORDER (~1e-12 relative), which the
final round absorbs.  Downstream of the rounded Gram, the power iteration
is the shared `pca_from_gram` body — so the served loadings/eigenvalues
are value-identical to the batch query, which is why the registered
stream-serve carries the SAME DuckDB oracle.

Store protocol: ``store_compaction.py``; the merge law is a grouped
DOUBLE sum (no cast: the cells are float partials, not counters)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import gram_partial, pca_from_gram
from .store_compaction import MicroBatchStore, PartStore

__all__ = ["GramStreamAccumulator"]

_SCHEMA = "i int, j int, g double"


class GramStreamAccumulator(MicroBatchStore):
    """Accumulates per-batch partial Gram grids and serves the exact
    batch spectral audit over all embeddings seen."""

    def __init__(self, spark: SparkSession, store_dir: str):
        self.parts = PartStore(
            spark,
            store_dir,
            _SCHEMA,
            lambda df: df.groupBy("i", "j").agg(F.sum("g").alias("g")),
        )

    def batch_grid(self, batch_df: DataFrame) -> DataFrame:
        """This batch's unrounded partial Gram (dim² rows — tiny
        regardless of batch size)."""
        return gram_partial(batch_df)

    def serve_gram(self) -> DataFrame:
        """Merged ROUNDED Gram — the batch `embedding_gram` relation over
        everything ingested."""
        return self.parts.merged().select("i", "j", F.round("g", 6).alias("g"))

    def serve_pca(self) -> DataFrame:
        """The batch spectral audit over everything ingested — identical
        body (`pca_from_gram`), identical output schema, same oracle."""
        return pca_from_gram(self.serve_gram())
