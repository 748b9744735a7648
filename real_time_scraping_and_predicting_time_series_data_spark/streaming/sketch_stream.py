"""Incremental count-min sketch over a document stream — the streaming
proof of the sketch's MERGEABILITY (operators/sketch.py): each micro-batch
builds its own (seed, bucket, n) counter table; the served sketch is the
sum-merge of every batch's counters, and equals the batch-built sketch of
the full corpus exactly (counter addition is associative + commutative).

Store protocol (parts, replay guard, fold): ``store_compaction.py``. At
100 TB the per-batch sketch is ≤ depth·width rows regardless of batch
size — the merge cost never grows with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import cms_build
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["CmsStreamAccumulator"]

_CMS_SCHEMA = "seed int, bucket bigint, n bigint"


class CmsStreamAccumulator(MicroBatchStore):
    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        text_col: str = "text",
        depth: int = 4,
        width: int = 1024,
    ) -> None:
        self.text_col = text_col
        self.depth = depth
        self.width = width
        self.parts = PartStore(
            spark, store_dir, _CMS_SCHEMA, sum_merge(("seed", "bucket"), ("n",))
        )

    def batch_grid(self, batch_df: DataFrame) -> DataFrame:
        """This batch's counter table."""
        tokens = batch_df.select(
            F.explode(F.split(F.trim(F.col(self.text_col)), r"\s+")).alias("token")
        )
        return cms_build(tokens, depth=self.depth, width=self.width)

    def serve(self) -> DataFrame:
        """The merged sketch — identical to the batch-built sketch of
        everything ingested."""
        return self.parts.merged()
