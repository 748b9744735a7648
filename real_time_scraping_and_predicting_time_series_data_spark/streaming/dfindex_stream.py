"""Incremental n-gram document-frequency index over a document stream —
the streaming twin of the shingle-index family (`corpus_boilerplate_ngrams`
/ `text_ngram_novelty`'s cross-doc df view), completing batch/stream parity
for the last corpus-quality family without one (VERDICT r5 item 6).

Mergeability argument (same as the CMS / KS-grid / quantile twins): each
micro-batch reduces to its own (gram, nd) document-frequency grid; the
served df of a gram is the grouped-sum merge of every batch's grid, and —
because `shingles` emits DISTINCT grams per document and documents arrive
exactly once per batch_id — that merge equals the batch df over everything
ingested. Boilerplate flagging is a pure function of (merged df, per-doc
postings), so the served share is bit-identical to running the batch query
over the union of all ingested documents. A later document can push a gram
over the df threshold and RETROACTIVELY re-flag earlier documents — which
is exactly why the serve recomputes flags from the merged grid instead of
freezing per-batch verdicts.

Three relations, each its own part store (``store_compaction.py``):

- ``df``       (gram, nd)        — tiny mergeable grids, folded by sum;
  the serve-side df merge touches ONLY these, never the postings;
- ``postings`` (doc_id, gram)    — the inverted index, needed because
  flagging is per-document (posting volume, never doc × doc);
- ``docs``     (doc_id, n_grams) — per-doc denominators.

Postings and doc bases are append-only (rows disjoint across batches) and
fold by plain union. Each relation folds and guards replays on its own:
a crash between folds leaves one folded and one not, and every relation
is complete (fold + live tail) at all times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_min_partitions
from ..operators.dedup import shingles
from ..operators.quality import boilerplate_scores
from .store_compaction import MicroBatchStore, PartStore, sum_merge

__all__ = ["NgramDfStreamIndex"]


class NgramDfStreamIndex(MicroBatchStore):
    """Accumulates per-batch (gram, nd) df grids plus (doc_id, gram)
    postings and serves the exact cross-document boilerplate share over
    all documents seen."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        n: int = 5,
        threshold: int = 5,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.n = n
        self.threshold = threshold
        self.id_col = id_col
        self.text_col = text_col
        self.parts = {
            "df": PartStore(
                spark, f"{store_dir}/df", "gram bigint, nd bigint", sum_merge(("gram",), ("nd",))
            ),
            "postings": PartStore(spark, f"{store_dir}/postings", "doc_id bigint, gram bigint"),
            "docs": PartStore(spark, f"{store_dir}/docs", "doc_id bigint, n_grams bigint"),
        }

    # -- ingest ---------------------------------------------------------

    def batch_index(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """This batch's (doc_id, gram) inverted index and (doc_id,
        n_grams) base — the same shingling as the batch query (distinct
        word n-grams, xxhash64-keyed so the stored/shuffled key is 8 bytes
        instead of the n-word string)."""
        # r13 (guide §2.1): spread the batch before the shingle projection —
        # the regex-split + n-gram HOF chain otherwise runs on the scan's
        # single partition (ensure_min_partitions is a no-op once the
        # input splits naturally).
        sh = ensure_min_partitions(df).select(
            F.col(self.id_col).alias("doc_id"),
            shingles(F.col(self.text_col), self.n).alias("grams"),
        ).localCheckpoint(eager=False)
        inv = sh.select("doc_id", F.explode("grams").alias("_g")).select(
            "doc_id", F.xxhash64("_g").alias("gram")
        )
        base = sh.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        return inv, base

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: publish this batch's df grid, postings, and
        doc base under its batch_id (replays overwrite, never
        double-count)."""
        inv, base = self.batch_index(batch_df)
        grid = inv.groupBy("gram").agg(F.count("*").cast("long").alias("nd"))
        self.parts["df"].publish(grid, batch_id)
        self.parts["postings"].publish(inv, batch_id)
        self.parts["docs"].publish(base, batch_id)

    def serve_df(self) -> DataFrame:
        """The merged (gram, nd) document-frequency grid — identical to
        counting the full postings store, but touching only the tiny
        per-batch grids."""
        return self.parts["df"].merged()

    def serve_boilerplate(self) -> DataFrame:
        """Boilerplate share per document over ALL documents ingested —
        bit-identical to `corpus_boilerplate_ngrams` run as one batch over
        the same rows (shared `boilerplate_scores` core; the merged df
        grid is injected so the postings are only scanned for the
        per-document semi-join)."""
        return boilerplate_scores(
            self.parts["postings"].read(),
            self.parts["docs"].read(),
            df_counts=self.serve_df(),
            threshold=self.threshold,
        )
