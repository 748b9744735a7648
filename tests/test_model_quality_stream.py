"""Batch ↔ streaming parity for the incremental model-quality monitor:
the served ROC AUC / PR AUC over documents ingested across micro-batches
must be value-exact against the one-batch metrics with the same frozen
coefficients, replay-safe, restart-recoverable, and compaction-invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
    _logistic_coeffs,
    _logistic_features,
    average_precision_from_grid,
    roc_auc_from_grid,
    score_grid_from_documents,
)
from real_time_scraping_and_predicting_time_series_data_spark.streaming.model_quality_stream import (
    ModelQualityStreamMonitor,
)

SF = "/root/testdata/sf0.001"


def _frozen_w(spark):
    docs = load_table(spark, SF, "documents")
    w = _logistic_coeffs(_logistic_features(docs)).select("w0", "w1", "w2").collect()[0]
    return (w.w0, w.w1, w.w2)


def _batch_metrics(spark, w):
    docs = load_table(spark, SF, "documents")
    g = score_grid_from_documents(docs, *w)
    roc = tuple(roc_auc_from_grid(g).collect()[0])
    pr = tuple(average_precision_from_grid(g).collect()[0])
    return roc, pr


def _served(mon):
    return (
        tuple(mon.serve_roc_auc().collect()[0]),
        tuple(mon.serve_pr_auc().collect()[0]),
    )


def test_stream_serve_matches_batch(spark, tmp_path):
    """3 micro-batches through a checkpointed file stream → served ROC and
    PR metrics equal the one-batch computation over all documents."""
    w = _frozen_w(spark)
    docs = load_table(spark, SF, "documents")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    mon = ModelQualityStreamMonitor(spark, str(tmp_path / "store"), *w)
    q = mon.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    want_roc, want_pr = _batch_metrics(spark, w)
    got_roc, got_pr = _served(mon)
    assert got_roc == want_roc
    assert got_pr == want_pr
    assert 0.5 < got_roc[3] <= 1.0  # the trained model actually ranks


def test_replay_restart_and_compaction(spark, tmp_path):
    """A replayed batch_id overwrites its own directory; a restarted query
    from the same checkpoint ingests only new files; compaction keeps the
    served metrics bit-identical and drops folded-batch replays."""
    w = _frozen_w(spark)
    docs = load_table(spark, SF, "documents")
    part = lambda i: docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == i)  # noqa: E731
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    mon = ModelQualityStreamMonitor(spark, str(tmp_path / "store"), *w)

    # empty store serves typed-empty results, not PATH_NOT_FOUND
    assert mon.serve_roc_auc().collect() == []

    part(0).coalesce(1).write.mode("append").parquet(src)
    q = mon.attach(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        ckpt,
    )
    q.awaitTermination(300)
    half = _served(mon)

    # at-least-once replay of batch 0: same rows, same batch_id → unchanged
    mon.ingest_batch(part(0), 0)
    assert _served(mon) == half

    # restart: second file, NEW query object, SAME checkpoint
    part(1).coalesce(1).write.mode("append").parquet(src)
    q2 = mon.attach(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        ckpt,
    )
    q2.awaitTermination(300)
    full = _served(mon)
    want_roc, want_pr = _batch_metrics(spark, w)
    assert full == (want_roc, want_pr)

    # compaction: fold both batches → served metrics bit-identical; a
    # replay of a folded batch id is dropped, not double-counted
    info = mon.compact()
    assert info.get("folded", info) is not None
    assert _served(mon) == full
    mon.ingest_batch(part(0), 0)
    assert _served(mon) == full


def test_one_class_batch_serves_null_auc(spark, tmp_path):
    """A store that has seen only negatives (`src0`) has no ROC AUC and no
    AP: the serves return null, not an ANSI divide-by-zero."""
    w = _frozen_w(spark)
    docs = load_table(spark, SF, "documents")
    mon = ModelQualityStreamMonitor(spark, str(tmp_path / "store"), *w)
    mon.ingest_batch(docs.filter(F.col("source") == "src0"), 0)
    (row,) = mon.serve_roc_auc().collect()
    assert row.n_pos == 0 and row.n_neg > 0
    assert row.auc_num2 == 0 and row.auc is None
    (pr,) = mon.serve_pr_auc().collect()
    assert pr.n_pos == 0 and pr.pr_auc is None and pr.best_f1 == 0.0
