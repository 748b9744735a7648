"""Batch ↔ streaming parity for the incremental Gram accumulator: the
served spectral audit over embeddings ingested across micro-batches must
be value-exact against `embedding_pca_power` run as one batch, and the
store must be replay-safe and compaction-invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
from real_time_scraping_and_predicting_time_series_data_spark.operators.similarity import (
    gram_partial,
)
from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import (
    all_queries,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.pca_stream import (
    GramStreamAccumulator,
)

SF = "/root/testdata/sf0.001"


def _batch_want(spark):
    return sorted(
        map(tuple, all_queries()["embedding_pca_power"].fn(spark, SF).collect())
    )


def test_pca_stream_serve_matches_batch(spark, tmp_path):
    """4 micro-batches through a checkpointed file stream → served
    spectrum equals the one-pass batch audit."""
    emb = load_table(spark, SF, "embeddings")
    src = str(tmp_path / "src")
    for i in range(4):
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    acc = GramStreamAccumulator(spark, str(tmp_path / "store"))
    q = acc.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert sorted(map(tuple, acc.serve_pca().collect())) == _batch_want(spark)


def test_pca_stream_replay_and_compaction(spark, tmp_path):
    """At-least-once replay overwrites its own grid; compact() folds the
    partials to one dim²-row grid with an identical served spectrum and
    drops folded replays."""
    emb = load_table(spark, SF, "embeddings")
    part = lambda i: emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(2)) == i)  # noqa: E731
    acc = GramStreamAccumulator(spark, str(tmp_path / "store"))
    acc.ingest_batch(part(0), 0)
    acc.ingest_batch(part(1), 1)
    want = _batch_want(spark)
    assert sorted(map(tuple, acc.serve_pca().collect())) == want

    acc.ingest_batch(part(0), 0)  # replay: overwrite, no double count
    assert sorted(map(tuple, acc.serve_pca().collect())) == want

    rep = acc.compact()
    assert rep["upto"] == 1
    assert acc.serve_gram().count() == 64 * 64
    assert sorted(map(tuple, acc.serve_pca().collect())) == want
    acc.ingest_batch(part(1), 1)  # folded replay: dropped
    assert sorted(map(tuple, acc.serve_pca().collect())) == want


@pytest.mark.parametrize(
    "vectors, msg",
    [
        # a null element would turn the whole partial Gram into NaN
        ([[1.0] * 8, [1.0] * 7 + [None]], "row 1 .* null element"),
        # 7 + 9 elements flatten to 16 = 2 x 8 and would reshape silently
        ([[1.0] * 7, [1.0] * 9], "row 0 .* 7 elements, expected 8"),
        ([[1.0] * 8, None], "row 1 .* null vector"),
        # two problem kinds in one batch: the earliest row is named
        ([[1.0] * 7, [1.0] * 8, None], "row 0 .* 7 elements, expected 8"),
        ([[1.0] * 7 + [None], [1.0] * 7, None], "row 0 .* null element"),
        ([[1.0] * 8, [1.0] * 7, [None] * 8], "row 1 .* 7 elements, expected 8"),
    ],
)
def test_gram_partial_rejects_null_and_ragged_vectors(spark, vectors, msg):
    df = spark.createDataFrame(
        [(v,) for v in vectors], "embedding array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match=msg):
        gram_partial(df, dim=8).collect()
