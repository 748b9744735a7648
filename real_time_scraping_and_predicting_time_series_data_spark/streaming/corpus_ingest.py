"""Incremental corpus construction with exactly-once exact dedup — the
streaming twin of ``operators/dedup.py::exact_dedup``.

A training-corpus pipeline ingests documents continuously; each micro-batch
must admit only content never seen before (first-arrival-wins), and a
crash/replay must not duplicate OR lose documents. Decomposition:

- **within-batch dedup**: min-id survivor per ``sha256(text)`` — one
  grouped agg over the batch only;
- **cross-batch dedup**: left-anti join of the batch's survivors against
  the ledger of already-accepted hashes. The ledger read projects ONLY the
  hash column (columnar parquet scan); at 100 TB the accepted store is
  bucketed on ``content_hash`` so this anti join is zero-shuffle on the
  ledger side, and the probe side is one micro-batch — bounded work per
  batch regardless of corpus size;
- **idempotent append**: accepted rows are the batch's part in the
  shared store protocol (``store_compaction.py``): ``foreachBatch`` is
  at-least-once, and a replayed batch replaces its own earlier attempt.
  The replay reads the ledger EXCLUDING its own part — otherwise a
  re-delivered batch would anti-join against its first attempt's rows
  and silently drop everything. Accepted rows are disjoint across
  batches (the anti-join guarantees it), so the fold is a plain union.

Invariant (pinned in tests/test_corpus_ingest.py): after any sequence of
ingests and replays, ``serve()`` equals the batch ``exact_dedup`` survivor
set over the union of all raw batches, with first-batch-then-min-id
survivor order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .store_compaction import MicroBatchStore, PartStore

__all__ = ["IncrementalCorpusStore"]

# The served relation before the first batch: the input columns plus the
# content hash (the columns of a later batch are carried through as-is).
_EMPTY_SCHEMA = "doc_id bigint, text string, source string, content_hash string"


class IncrementalCorpusStore(MicroBatchStore):
    """First-seen-wins document store over columns
    ``(doc_id, text, source)`` (extra columns are carried through)."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        self.spark = spark
        self.parts = PartStore(spark, os.path.join(store_dir, "accepted"))

    # -- ingest -------------------------------------------------------------

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: admit first-seen content, idempotently."""
        hashed = batch_df.withColumn("content_hash", F.sha2(F.col("text"), 256))
        w = Window.partitionBy("content_hash").orderBy("doc_id")
        survivors = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        ledger = self.parts.read(exclude_batch_id=batch_id)
        if ledger is not None:
            # Hash-only projection: the scan reads one column of the store.
            survivors = survivors.join(
                ledger.select("content_hash"), "content_hash", "left_anti"
            )
        self.parts.publish(survivors, batch_id)

    # -- serve --------------------------------------------------------------

    def serve(self) -> DataFrame:
        """All accepted documents (the deduplicated corpus)."""
        df = self.parts.read()
        return df if df is not None else self.spark.createDataFrame([], _EMPTY_SCHEMA)
