"""Incremental BM25 index over a document stream — the streaming twin of
the sparse-retrieval family (`text_bm25_multi` / `text_bm25_eval`): the
indexer search engines actually run, where documents arrive continuously
and the inverted index accumulates per batch.

Mergeability argument (the corpus_ingest / dfindex pattern): the store is
the per-batch (doc_id, term, tf) INVERTED INDEX — rows disjoint across
batch dirs because each document arrives exactly once per batch_id and tf
is computed within the document.  The union of all live parts therefore
EQUALS the batch tf relation over everything ingested, and the serve runs
the exact batch ranker (`_bm25_rank_from_tf`) over that union — so the
served top-k is bit-identical to `text_bm25_multi` over the same corpus,
which is what lets the registered stream-serve query carry the SAME full
DuckDB oracle as the batch query.

Corpus-level statistics (df, dl, avgdl, N) are deliberately NOT stored:
they are derived from the merged index at serve time, because a late
document changes avgdl and idf RETROACTIVELY for every earlier score —
freezing per-batch scores would serve a different (wrong) ranking than
batch.  The index rows are the only state with that property.

Store protocol: ``store_compaction.py``; the append-only index folds by
plain union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.text import _bm25_panel_df, _bm25_rank_from_tf, _bm25_tf
from .store_compaction import MicroBatchStore, PartStore

__all__ = ["Bm25StreamIndex"]

_SCHEMA = "doc_id bigint, term string, tf bigint"


class Bm25StreamIndex(MicroBatchStore):
    """Accumulates per-batch inverted-index shards and serves the exact
    batch BM25 ranking over all documents seen."""

    def __init__(self, spark: SparkSession, store_dir: str):
        self.spark = spark
        self.parts = PartStore(spark, store_dir, _SCHEMA)

    def batch_grid(self, batch_df: DataFrame) -> DataFrame:
        """This batch's (doc, term, tf) shard."""
        return _bm25_tf(batch_df, "text", "doc_id").select("doc_id", "term", "tf")

    def serve_topk(self, panel: tuple, k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """Exact batch ranking over everything ingested: the union of live
        index shards IS the batch tf relation, and the ranker is the batch
        ranker — corpus stats (df/avgdl/N) derive fresh at serve time so
        late documents retroactively reweight earlier scores exactly as a
        batch rebuild would."""
        qdf = _bm25_panel_df(self.spark, panel)
        return _bm25_rank_from_tf(self.parts.merged(), qdf, k, k1, b, "doc_id")
