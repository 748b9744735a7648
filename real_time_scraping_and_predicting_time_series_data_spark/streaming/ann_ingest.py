"""Incremental IVF index maintenance over an embedding stream — the
similarity-search member of the streaming-ingest family (beside the
corpus hash-ledger, the near-dup admission gate, and the mergeable
CMS/KS/quantile accumulators): new vectors are assigned to a FIXED coarse
quantizer as they arrive, and top-k serving over everything ingested is
identical to running the batch IVF path over the union corpus.

Why this shape scales: the centroid model is a K-row table fixed at index
creation (trained/seeded offline — re-clustering a live index is a
rebuild, not an ingest), so per-batch work is a ZERO-SHUFFLE broadcast
projection (`ivf_assign`) plus one partitioned append; nothing ever
re-reads history. Each part (and the fold) is cell-partitioned under the
shared store protocol (``store_compaction.py``: replay-safe per batch,
plain-union fold) so a serve path that pins its probe set (a dashboard
serving fixed queries) prunes to nprobe/K of the files before reading.

Serving reuses `_probe_rank_preassigned` (operators/similarity.py) — the
exact probe/rank half of the batch `ivf_topk_seeded` path — so the
streaming index's answers are BIT-IDENTICAL to the batch query over the
same vectors (pinned by tests/test_ann_ingest.py, including an
at-least-once replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import as_double, norm
from ..operators.similarity import _probe_rank_preassigned, ivf_assign
from .store_compaction import MicroBatchStore, PartStore

__all__ = ["IvfStreamIndex", "seed_centroids"]


def seed_centroids(corpus: DataFrame, n_cells: int = 16, id_col: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """Deterministic seed centroids: the unit-normalized vectors of corpus
    ids < n_cells — the same quantizer `ivf_topk_seeded` uses, so batch
    and streaming serve from one model definition."""
    c = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("int").alias("cell"), as_double(F.col(vec)).alias("c_vec")
    )
    c = c.withColumn("_n", norm(F.col("c_vec")))
    return c.select(
        "cell", F.transform("c_vec", lambda x: x / F.col("_n")).alias("c_nvec")
    )


class IvfStreamIndex(MicroBatchStore):
    """Cell-partitioned incremental ANN index with a fixed coarse
    quantizer; ingest assigns, serve probes — history is never re-read."""

    def __init__(self, spark: SparkSession, store_dir: str, centroids: DataFrame) -> None:
        self.parts = PartStore(
            spark,
            store_dir,
            "cell int, neighbor_id bigint, v_c array<double>",
            partition_by=("cell",),
        )
        # K tiny rows — materialize once as the model table.
        self.centroids = centroids.localCheckpoint(eager=True)

    def ingest_batch(self, batch_df: DataFrame, batch_id: int,
                     id_col: str = "vec_id", vec: str = "embedding") -> None:
        """foreachBatch hook: normalize, assign (zero-shuffle broadcast
        projection), publish as this batch's cell-partitioned part."""
        c = batch_df.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec)).alias("v_c")
        )
        c = c.withColumn("_n", norm(F.col("v_c"))).select(
            "neighbor_id", F.transform("v_c", lambda x: x / F.col("_n")).alias("v_c")
        )
        assigned = ivf_assign(c, self.centroids, "v_c", ["neighbor_id"])
        self.parts.publish(assigned.select("cell", "neighbor_id", "v_c"), batch_id)

    def corpus(self) -> DataFrame:
        """Everything ingested: (cell, neighbor_id, v_c) with cell read
        back from the partition layout. An empty store (no batch yet)
        serves an empty corpus — a query against it returns no neighbors
        instead of PATH_NOT_FOUND."""
        return self.parts.read().select("cell", "neighbor_id", "v_c")

    def serve_topk(self, queries: DataFrame, k: int = 5, nprobe: int = 4,
                   query_id: str = "query_id", vec: str = "embedding") -> DataFrame:
        """Exact top-k over the probed cells of everything ingested —
        bit-identical to the batch seeded-IVF query on the same vectors."""
        q = queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q"))
        q = q.withColumn("_n", norm(F.col("v_q"))).select(
            query_id, F.transform("v_q", lambda x: x / F.col("_n")).alias("v_q")
        )
        return _probe_rank_preassigned(
            self.corpus(), q, self.centroids, k=k, nprobe=nprobe, query_id=query_id
        )
