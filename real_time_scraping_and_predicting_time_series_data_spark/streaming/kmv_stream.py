"""Streaming KMV distinct sketch — the incremental twin of
`sketch_kmv_distinct` (operators/sketch.py).

KMV is the sketch whose merge is idempotent BY CONSTRUCTION: the union of
two k-minimum-value sets, re-cut to the k smallest, equals the sketch of
the union — associative, commutative, idempotent, so this store tolerates
arbitrary row duplication across batches (strictly stronger than the
count grids' disjointness contract, same tier as the experiment store's
grouped MAX).  Per-batch state is each batch's own k smallest distinct
60-bit hashes (≤ k BIGINTs per batch); the merge dedups the live parts
and re-cuts to k — bit-identical to the batch sketch over everything
ingested because order statistics of a fixed hash set are deterministic.
Store protocol: ``store_compaction.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_60
from ..operators.sketch import _KMV_K
from .store_compaction import MicroBatchStore, PartStore

__all__ = ["KmvStreamSketch"]

_GRID_SCHEMA = "h60 bigint"


def _k_smallest(df: DataFrame, k: int) -> DataFrame:
    return df.select("h60").distinct().orderBy("h60").limit(k)


class KmvStreamSketch(MicroBatchStore):
    """Accumulates per-batch k-minimum-value sets and serves the exact
    whole-stream distinct sketch."""

    def __init__(self, spark: SparkSession, store_dir: str, k: int = _KMV_K) -> None:
        self.k = k
        self.parts = PartStore(
            spark, store_dir, _GRID_SCHEMA, lambda df: _k_smallest(df, k)
        )

    def batch_grid(self, pairs_df: DataFrame) -> DataFrame:
        """This batch's sketch: the k smallest distinct hashes of the
        (l_partkey, l_suppkey) pair key."""
        h = pairs_df.select(
            md5_60(
                F.concat_ws(
                    ":",
                    F.col("l_partkey").cast("string"),
                    F.col("l_suppkey").cast("string"),
                )
            ).alias("h60")
        )
        return _k_smallest(h, self.k)

    def serve_sketch(self) -> DataFrame:
        """(k, kth, kmv_estimate) over everything ingested — bit-identical
        to the batch sketch (shared order-statistic arithmetic)."""
        s = self.parts.merged().agg(
            F.count("*").cast("long").alias("k"),
            F.max("h60").cast("long").alias("kth"),
        )
        est = (F.col("k").cast("double") - F.lit(1.0)) / (
            F.col("kth").cast("double") / F.lit(float(1 << 60))
        )
        canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
        return s.select("k", "kth", canon(est).alias("kmv_estimate"))
