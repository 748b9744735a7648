"""Streaming URL-frontier ingest — the incremental twin of
``corpus_url_canonical_dedup`` + ``corpus_crawl_frontier``
(operators/corpus.py), on the ``corpus_ingest.py`` ledger skeleton.

A crawler discovers URLs continuously; the frontier must admit each
CANONICAL url once (first-seen-wins — re-discovered variants of an
already-queued page are dropped at ingest) and serve a politeness
schedule over the accepted set.  Decomposition:

- **within-batch dedup**: min-doc_id survivor per canonical URL — one
  grouped agg over the batch only (URL canonicalization itself is pure
  codegen'd string algebra from ``canonical_url``, zero extra shuffle);
- **cross-batch dedup**: left-anti join of the batch's survivors against
  the ledger of already-accepted canonical URLs.  The ledger read
  projects ONLY the canonical-URL column; at 100 TB the accepted store
  is bucketed on ``canonical_url`` so the anti join is zero-shuffle on
  the ledger side and the probe side is one micro-batch;
- **idempotent append**: accepted rows are the batch's part in the
  shared store protocol (``store_compaction.py``): a replayed batch
  overwrites its own earlier attempt and excludes its own part from the
  ledger probe, and ``compact()`` folds by plain union — accepted rows
  are disjoint across batches by the anti-join.

Equivalence contract (pinned in tests/test_url_frontier.py): when batch
assignment is MONOTONE in doc_id (a real crawl's arrival order — earlier
discovery ⇒ smaller id), the earliest batch containing any member of a
canonical group also contains that group's global min doc_id, so
first-seen-wins == global min-doc_id survivor and ``serve_frontier()``
is bit-identical to the one-pass ``corpus_crawl_frontier``.  Under
out-of-order arrival the store still admits exactly one row per
canonical URL (first arrival), which is the semantics a live frontier
actually wants — the batch-parity guarantee is scoped to ordered
arrival, stated here rather than hidden.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .store_compaction import MicroBatchStore, PartStore

__all__ = ["UrlFrontierStore"]

_EMPTY_SCHEMA = "doc_id bigint, canonical_url string, host string, reg_domain string"


class UrlFrontierStore(MicroBatchStore):
    """First-seen-wins canonical-URL ledger over columns
    ``(doc_id, url)``; accepted rows carry
    ``(doc_id, canonical_url, reg_domain, host)``."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        self.spark = spark
        self.parts = PartStore(spark, os.path.join(store_dir, "accepted"))

    # -- ingest ---------------------------------------------------------

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: admit first-seen canonical URLs, idempotently.
        ``batch_df`` carries raw ``(doc_id, url)``."""
        from ..operators.corpus import canonical_url, with_registrable_domain  # noqa: PLC0415

        canon, host = canonical_url(F.col("url"))
        c = batch_df.select(
            "doc_id", canon.alias("canonical_url"), host.alias("host")
        )
        c = with_registrable_domain(c, host_col="host")
        w = Window.partitionBy("canonical_url").orderBy("doc_id")
        survivors = (
            c.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        ledger = self.parts.read(exclude_batch_id=batch_id)
        if ledger is not None:
            # Canonical-URL-only projection: one column of the store is read.
            survivors = survivors.join(
                ledger.select("canonical_url"), "canonical_url", "left_anti"
            )
        self.parts.publish(survivors, batch_id)

    # -- serve ----------------------------------------------------------

    def accepted(self) -> DataFrame:
        """All admitted frontier rows (one per canonical URL)."""
        df = self.parts.read()
        return df if df is not None else self.spark.createDataFrame([], _EMPTY_SCHEMA)

    def serve_frontier(self, docs: DataFrame) -> DataFrame:
        """The politeness schedule over the accepted set — the SAME
        ``frontier_schedule`` body as the batch ``corpus_crawl_frontier``
        (priority = survivor doc's n_chars desc, doc_id tiebreak;
        per-domain crawl delay), so serve == batch is by construction
        under ordered arrival."""
        from ..operators.corpus import frontier_schedule  # noqa: PLC0415

        surv = self.accepted().select(
            F.col("doc_id").alias("survivor_doc_id"),
            "canonical_url",
            "reg_domain",
            "host",
        )
        return frontier_schedule(surv, docs)
