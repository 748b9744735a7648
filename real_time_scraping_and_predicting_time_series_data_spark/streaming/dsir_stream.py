"""Incremental DSIR importance-weight model over a document stream — the
streaming twin of `corpus_dsir_weights` (r10).

Mergeability argument (the CMS / KS-grid / df-index pattern): each
micro-batch reduces to its own (bucket, cr, ct) hashed-unigram count grid
(≤ 4096 rows — the entire LM state) plus its (doc, bucket, n) postings.
The served model is the grouped-sum merge of every batch's grid, which —
counts being associative — equals the batch model over everything
ingested.  Weights are a pure function of (merged model, postings) via
`dsir_score`, so the served weights are bit-identical to running the
batch query over the union of all ingested documents.  A later batch
shifts BOTH bucket LMs, retroactively re-weighting earlier documents —
exactly why the serve recomputes from the merged grid instead of
freezing per-batch weights (a data-selection service must re-rank its
backlog as the target distribution estimate sharpens).

Two relations, each its own part store (``store_compaction.py``):

- ``grid`` (b, cr, ct)      — tiny mergeable LM grids, folded by sum;
- ``db``   (doc_id, b, n)   — per-doc bucket counts (linear in tokens,
  never doc × doc), append-only and folded by plain union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_60
from ..operators.corpus import _DSIR_BUCKETS, dsir_score
from ..operators.text import words_of
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["DsirStreamModel"]


class DsirStreamModel(MicroBatchStore):
    """Accumulates per-batch hashed-unigram LM grids plus per-doc bucket
    counts and serves exact DSIR weights over all documents seen."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        target_pred: Column,
        buckets: int = _DSIR_BUCKETS,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.target_pred = target_pred
        self.buckets = buckets
        self.id_col = id_col
        self.text_col = text_col
        self.parts = {
            "grid": PartStore(
                spark,
                f"{store_dir}/grid",
                "b bigint, cr bigint, ct bigint",
                sum_merge(("b",), ("cr", "ct")),
            ),
            "db": PartStore(spark, f"{store_dir}/db", "doc_id bigint, b bigint, n bigint"),
        }

    # -- ingest ---------------------------------------------------------

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: publish this batch's LM grid and per-doc
        bucket counts under its batch_id (replays overwrite, never
        double-count)."""
        toks = batch_df.select(
            F.col(self.id_col).alias("doc_id"),
            self.target_pred.alias("is_tgt"),
            F.explode(words_of(F.col(self.text_col))).alias("w"),
        ).select(
            "doc_id", "is_tgt", (md5_60(F.col("w")) % self.buckets).alias("b")
        ).localCheckpoint(eager=False)
        grid = toks.groupBy("b").agg(
            F.sum(F.when(~F.col("is_tgt"), 1).otherwise(0)).cast("long").alias("cr"),
            F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).cast("long").alias("ct"),
        )
        db = toks.groupBy("doc_id", "b").agg(F.count("*").cast("long").alias("n"))
        self.parts["grid"].publish(grid, batch_id)
        self.parts["db"].publish(db, batch_id)

    def serve_model(self) -> DataFrame:
        """The merged (b, cr, ct) LM grid over everything ingested."""
        return self.parts["grid"].merged()

    def serve_weights(self) -> DataFrame:
        """DSIR weights for every ingested document under the CURRENT
        merged model — bit-identical to `corpus_dsir_weights` run as one
        batch over the same rows (shared `dsir_score` core)."""
        return dsir_score(
            self.parts["db"].read(), self.serve_model(), buckets=self.buckets
        )
