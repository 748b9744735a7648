"""Incremental corpus construction with NEAR-duplicate admission control —
the streaming twin of ``operators/dedup.py``'s MinHash-LSH pipeline, built
on the same ledger/idempotence skeleton as ``corpus_ingest.py``.

Admission rule (first-arrival-wins, deterministic):

- **within batch**: MinHash band buckets generate candidate pairs, exact
  Jaccard over the shingle sets verifies them, connected components over
  the verified edges cluster the batch's near-dups, and the min-``doc_id``
  representative of each cluster survives (the standard LSH-cluster dedup
  used by large corpus pipelines);
- **cross batch**: a surviving representative is admitted only if NO
  already-accepted document shares a band bucket AND verifies at
  Jaccard ≥ threshold. The ledger probe is an equi-join on
  (band, bucket) — bounded candidate work per batch regardless of corpus
  size — followed by verification against only the colliding ledger
  docs' stored shingle sets;
- **idempotent append**: accepted rows (with their shingle sets and band
  buckets, so future probes never recompute them) are the batch's part
  in the shared store protocol (``store_compaction.py``); a replayed
  batch excludes its own part from the ledger read, and the fold is a
  plain union (accepted rows are disjoint across batches).

Served-corpus invariant (pinned in tests/test_neardup_ingest.py): no two
documents in ``serve()`` BOTH share a MinHash band bucket AND have
Jaccard ≥ threshold. This is the LSH guarantee, which is probabilistic in
the Jaccard value itself: a pair at J just above the threshold can share
no band bucket (P[collision] = 1-(1-J^r)^b ≈ 0.6% at J = 0.2 with b = 4
bands × r = 4 rows) and both be admitted. Near-certain detection needs
J well above the band threshold (J^r·b ≳ 1) or a banding config sized to
the target J — the standard LSH recall trade-off, identical to the batch
pipeline's. What IS exact: every candidate that does collide is verified
with exact Jaccard before rejection, so there are no false rejections.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    connected_components,
    minhash_signatures,
    shingle_sets,
    verify_candidates_jaccard,
)
from .store_compaction import MicroBatchStore, PartStore

__all__ = ["NearDupCorpusStore"]


def _band_buckets(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) — exact band-value-tuple buckets, one row per
    band (same construction as ``minhash_candidates``'s join keys)."""
    rows_per_band = num_perm // bands
    structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "-", *[F.col(f"mh_{bi * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    return sigs.select("id", F.explode(structs).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


# The served relation before the first batch (later batches carry their
# input columns through as-is).
_EMPTY_SCHEMA = "doc_id bigint, text string, source string"


class NearDupCorpusStore(MicroBatchStore):
    """First-seen-wins near-dup-free document store over columns
    ``(doc_id, text, source)``."""

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        threshold: float = 0.2,
        n: int = 2,
        num_perm: int = 16,
        bands: int = 4,
    ) -> None:
        self.spark = spark
        self.parts = PartStore(spark, os.path.join(store_dir, "accepted"))
        self.threshold = threshold
        self.n = n
        self.num_perm = num_perm
        self.bands = bands

    # -- ingest -------------------------------------------------------------

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: admit near-dup-free representatives,
        idempotently per batch_id."""
        if self.parts.is_compacted(batch_id):
            return  # skip the eager work: publish would drop the replay
        sets = shingle_sets(batch_df, id_col="doc_id", text="text", n=self.n).localCheckpoint(
            eager=True
        )
        sigs = minhash_signatures(sets, num_perm=self.num_perm)
        bk = _band_buckets(sigs, self.num_perm, self.bands).localCheckpoint(eager=True)

        # within-batch: candidates -> verify -> cluster -> min-id reps
        a = bk.select(F.col("id").alias("id_a"), "band", "bucket")
        b = bk.select(F.col("id").alias("id_b"), "band", "bucket")
        cand = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        edges = (
            verify_candidates_jaccard(cand, sets)
            .filter(F.col("jaccard") >= self.threshold)
            .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
        labels = connected_components(edges, sets.select("id"))
        reps = (
            labels.groupBy("label").agg(F.min("node").alias("id")).select("id")
        )

        # cross-batch: probe the ledger's band buckets, verify survivors
        survivors = reps
        ledger = self.parts.read(exclude_batch_id=batch_id)
        if ledger is not None:
            lbk = ledger.select("doc_id", F.explode("bands").alias("b")).select(
                F.col("doc_id").alias("led_id"),
                F.col("b.band").alias("band"),
                F.col("b.bucket").alias("bucket"),
            )
            probe = (
                bk.join(reps, "id")
                .join(lbk, ["band", "bucket"])
                .select("id", "led_id")
                .distinct()
            )
            led_sets = ledger.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
            new_sets = sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
            joined = (
                probe.select(F.col("id").alias("id_a"), F.col("led_id").alias("id_b"))
                .join(new_sets, "id_a")
                .join(led_sets, "id_b")
            )
            common = F.size(F.array_intersect("sh_a", "sh_b"))
            union = F.size("sh_a") + F.size("sh_b") - common
            rejected = (
                joined.filter((common / union) >= self.threshold)
                .select(F.col("id_a").alias("id"))
                .distinct()
            )
            survivors = reps.join(rejected, "id", "left_anti")

        accepted = (
            batch_df.join(survivors.withColumnRenamed("id", "doc_id"), "doc_id", "left_semi")
            .join(sets.withColumnRenamed("id", "doc_id"), "doc_id")
            .join(
                bk.groupBy("id")
                .agg(F.collect_list(F.struct("band", "bucket")).alias("bands"))
                .withColumnRenamed("id", "doc_id"),
                "doc_id",
            )
        )
        self.parts.publish(accepted, batch_id)

    # -- serve --------------------------------------------------------------

    def serve(self) -> DataFrame:
        """All accepted documents (near-dup-free corpus)."""
        df = self.parts.read()
        if df is None:
            return self.spark.createDataFrame([], _EMPTY_SCHEMA)
        return df.drop("sh", "bands")
