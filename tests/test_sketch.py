"""Count-min sketch guarantees: never undercount, bounded overcount, heavy
hitters exact-ranked, and merge = build-on-union; plus bounds checks for
the registered approximate (rows-only) queries."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from real_time_scraping_and_predicting_time_series_data_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    cms_merge,
)

SF = "/root/testdata/sf0.001"


def _tokens(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))


def test_cms_never_undercounts_and_bounds_overcount(spark):
    toks = _tokens(spark)
    n_total = toks.count()
    exact = {r.token: r.n for r in toks.groupBy("token").agg(F.count("*").alias("n")).collect()}
    sketch = cms_build(toks, depth=4, width=1024)
    est = {
        r.token: r.est
        for r in cms_estimate(sketch, toks.distinct(), depth=4, width=1024).collect()
    }
    assert set(est) == set(exact)
    eps_n = (2.718 / 1024) * n_total  # CMS bound: overcount <= e/width * N (w.h.p.)
    for t, n in exact.items():
        assert est[t] >= n, t
        assert est[t] <= n + eps_n, (t, est[t], n, eps_n)


def test_cms_heavy_hitters_match_exact_counts(spark):
    """On this corpus the heavy tokens collide negligibly: the top-10 by
    estimate must be the top-10 by exact count with identical counts."""
    toks = _tokens(spark)
    exact_top = (
        toks.groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token").limit(10).collect()
    )
    sketch = cms_build(toks, depth=4, width=1024)
    est = {
        r.token: r.est
        for r in cms_estimate(sketch, toks.distinct(), depth=4, width=1024).collect()
    }
    for r in exact_top:
        assert est[r.token] == r.n, (r.token, est[r.token], r.n)


def test_cms_merge_equals_build_on_union(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    def toks_of(df):
        return df.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))

    a = toks_of(docs.filter(F.col("doc_id") % 2 == 0))
    b = toks_of(docs.filter(F.col("doc_id") % 2 == 1))
    merged = cms_merge(
        cms_build(a, depth=4, width=256), cms_build(b, depth=4, width=256)
    )
    direct = cms_build(toks_of(docs), depth=4, width=256)
    m = {(r.seed, r.bucket): r.n for r in merged.collect()}
    d = {(r.seed, r.bucket): r.n for r in direct.collect()}
    assert m == d


def test_hll_distinct_within_rsd_of_exact(spark):
    from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in all_queries()["sketch_hll_distinct"].fn(spark, SF).collect()
    }
    exact = {
        r["event_type"]: r["exact"]
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, est in approx.items():
        # rsd=1% → allow 5 standard-error widths before calling it broken
        assert abs(est - exact[etype]) <= max(1, 0.05 * exact[etype]), (etype, est, exact[etype])


def _load(spark, table):
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table

    return load_table(spark, SF, table)


def _check_sample_stratified(spark, rows):
    from real_time_scraping_and_predicting_time_series_data_spark.operators.reshape import (
        STRATA_FRACTIONS,
    )

    docs = {r["doc_id"]: r["lang"] for r in _load(spark, "documents").collect()}
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))
    for r in rows:
        assert docs.get(r["doc_id"]) == r["lang"], r
    for lang in set(docs.values()):
        n = sum(1 for v in docs.values() if v == lang)
        f = STRATA_FRACTIONS.get(lang, 0.0)
        got = sum(1 for r in rows if r["lang"] == lang)
        # binomial count: within 4 standard deviations of n·f
        assert abs(got - n * f) <= 4 * math.sqrt(n * f * (1 - f)), (lang, got, n, f)


def _check_ts_quantiles_approx(spark, rows):
    values: dict[int, list[float]] = {}
    for r in _load(spark, "events").select("user_id", "value").collect():
        values.setdefault(r["user_id"], []).append(r["value"])
    assert {r["user_id"] for r in rows} == set(values)
    for r in rows:
        vs = values[r["user_id"]]
        n, p = len(vs), r["p50_approx"]
        assert p in vs, r
        # accuracy 1000 bounds the rank error by n / 1000 (plus rounding)
        err = n / 1000 + 1
        below = sum(1 for v in vs if v < p)
        at_or_below = sum(1 for v in vs if v <= p)
        assert below + 1 <= 0.5 * n + err and at_or_below >= 0.5 * n - err, (r, n)
        ndv = len(set(vs))
        # approx_count_distinct's default rsd is 0.05: allow 4 standard errors
        assert abs(r["ndv_approx"] - ndv) <= max(1, 4 * 0.05 * ndv), (r, ndv)


def _check_ml_gbt_forecast_eval(spark, rows):
    users = {r["user_id"] for r in _load(spark, "events").select("user_id").collect()}
    assert rows
    for r in rows:
        assert r["user_id"] in users, r
        assert math.isfinite(r["rmse_1"]) and r["rmse_1"] >= 0, r


_BOUNDS = {
    "sample_stratified": _check_sample_stratified,
    "ts_quantiles_approx": _check_ts_quantiles_approx,
    "ml_gbt_forecast_eval": _check_ml_gbt_forecast_eval,
}


@pytest.mark.parametrize("name", sorted(_BOUNDS))
def test_rows_only_query_within_bounds(spark, name):
    """The registered rows-only queries have no oracle to hash against;
    each is checked against its exact counterpart within a stated bound."""
    from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries

    _BOUNDS[name](spark, all_queries()[name].fn(spark, SF).collect())


def test_every_rows_only_query_has_a_bounds_test():
    from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries

    rows_only = {n for n, q in all_queries().items() if q.oracle is None}
    assert rows_only == set(_BOUNDS) | {"sketch_hll_distinct"}


def test_cms_stream_merge_equals_batch(spark, tmp_path):
    """Streamed per-batch sketches, sum-merged, equal the batch-built
    sketch of the whole corpus exactly — the mergeability contract that
    makes the sketch a valid distributed/incremental aggregate. Includes
    an at-least-once replay (same batch twice) to pin idempotence."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.sketch import (
        cms_build,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.sketch_stream import (
        CmsStreamAccumulator,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    acc = CmsStreamAccumulator(spark, str(tmp_path / "cms_store"))
    acc.ingest_batch(docs.filter(F.col("doc_id") <= half), batch_id=0)
    acc.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)
    # replay batch 1 (at-least-once delivery) — must not double count
    acc.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)

    tokens = docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
    want = {
        (r.seed, r.bucket): r.n for r in cms_build(tokens, depth=4, width=1024).collect()
    }
    got = {(r.seed, r.bucket): r.n for r in acc.serve().collect()}
    assert got == want


def test_cms_stream_attach_availablenow(spark, tmp_path):
    """End-to-end through writeStream.foreachBatch."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.sketch import (
        cms_build,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.sketch_stream import (
        CmsStreamAccumulator,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    acc = CmsStreamAccumulator(spark, str(tmp_path / "store"))
    q = acc.attach(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    tokens = docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
    want = sorted(
        (r.seed, r.bucket, r.n) for r in cms_build(tokens, depth=4, width=1024).collect()
    )
    got = sorted((r.seed, r.bucket, r.n) for r in acc.serve().collect())
    assert got == want


def test_drift_stream_equals_batch_ks(spark, tmp_path):
    """Incremental KS: per-batch value grids merged by sum give the EXACT
    batch statistic (replay-safe), matching stats_ks_drift on the same rows."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import q_stats_ks_drift
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import (
        DriftStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    mon = DriftStreamMonitor(spark, str(tmp_path / "drift_store"))
    mon.ingest_batch(docs.filter(F.col("doc_id") <= half), batch_id=0)
    mon.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)
    # at-least-once replay must not double count
    mon.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)

    want = q_stats_ks_drift(spark, sf).collect()[0].asDict()
    got = mon.serve_ks().collect()[0].asDict()
    assert got == want

    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_stats_mann_whitney,
    )

    want_mw = q_stats_mann_whitney(spark, sf).collect()[0].asDict()
    got_mw = mon.serve_mann_whitney().collect()[0].asDict()
    assert got_mw == want_mw


def test_drift_stream_attach_availablenow(spark, tmp_path):
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import q_stats_ks_drift
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import (
        DriftStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    src = str(tmp_path / "src")
    docs.coalesce(2).write.mode("overwrite").parquet(src)
    mon = DriftStreamMonitor(spark, str(tmp_path / "store"))
    q = mon.attach(
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    want = q_stats_ks_drift(spark, sf).collect()[0].asDict()
    got = mon.serve_ks().collect()[0].asDict()
    assert got == want


def test_quantile_stream_equals_batch_grid(spark, tmp_path):
    """Incremental exact quantiles: per-batch value grids merged by sum
    serve BIT-IDENTICAL per-type nearest-rank quantiles to
    events_value_quantiles_grid on the same ticks (replay-safe)."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_events_value_quantiles_grid,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
        QuantileStreamAccumulator,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    third = ev.count() // 3
    acc = QuantileStreamAccumulator(spark, str(tmp_path / "q_store"))
    acc.ingest_batch(ev.filter(F.col("event_id") % 3 == 0), batch_id=0)
    acc.ingest_batch(ev.filter(F.col("event_id") % 3 == 1), batch_id=1)
    acc.ingest_batch(ev.filter(F.col("event_id") % 3 == 2), batch_id=2)
    # at-least-once replay must not double count
    acc.ingest_batch(ev.filter(F.col("event_id") % 3 == 2), batch_id=2)
    assert third > 0

    want = sorted(tuple(r) for r in q_events_value_quantiles_grid(spark, sf).collect())
    got = sorted(tuple(r) for r in acc.serve_quantiles().collect())
    assert got == want


def test_quantile_stream_attach_availablenow(spark, tmp_path):
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_events_value_quantiles_grid,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.quantile_stream import (
        QuantileStreamAccumulator,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    src = str(tmp_path / "src")
    ev.coalesce(2).write.mode("overwrite").parquet(src)
    acc = QuantileStreamAccumulator(spark, str(tmp_path / "store"))
    q = acc.attach(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    want = sorted(tuple(r) for r in q_events_value_quantiles_grid(spark, sf).collect())
    got = sorted(tuple(r) for r in acc.serve_quantiles().collect())
    assert got == want


def test_drift_stream_serves_psi(spark, tmp_path):
    """The merged grid serves PSI bit-identically to the batch query."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        q_stats_psi_drift,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import (
        DriftStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    mon = DriftStreamMonitor(spark, str(tmp_path / "psi_store"))
    mon.ingest_batch(docs.filter(F.col("doc_id") <= half), batch_id=0)
    mon.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)
    want = q_stats_psi_drift(spark, sf).collect()[0].asDict()
    got = mon.serve_psi().collect()[0].asDict()
    assert got == want


def test_drift_stream_serves_jsd(spark, tmp_path):
    """The merged grid serves Jensen-Shannon divergence bit-identically to
    the batch computation over the same rows (fourth statistic off the one
    mergeable store)."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.stats import (
        jsd_from_value_grid,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.drift_stream import (
        DriftStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    mon = DriftStreamMonitor(spark, str(tmp_path / "jsd_store"))
    mon.ingest_batch(docs.filter(F.col("doc_id") <= half), batch_id=0)
    mon.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)
    # replay must not double-count
    mon.ingest_batch(docs.filter(F.col("doc_id") > half), batch_id=1)
    want = jsd_from_value_grid(mon.batch_grid(docs)).collect()[0].asDict()
    got = mon.serve_jsd().collect()[0].asDict()
    assert got == want
    assert 0.0 <= got["js_divergence"] <= 0.6931472


def test_seasonality_stream_serves_periodogram(spark, tmp_path):
    """Per-day (cents-sum, count) grids merged by sum serve a spectrum
    BIT-IDENTICAL to ts_periodogram on the same ticks (replay-safe)."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.timeseries import (
        q_ts_periodogram,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.seasonality_stream import (
        SeasonalityStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    mon = SeasonalityStreamMonitor(spark, str(tmp_path / "season_store"))
    mon.ingest_batch(ev.filter(F.col("event_id") % 3 == 0), batch_id=0)
    mon.ingest_batch(ev.filter(F.col("event_id") % 3 == 1), batch_id=1)
    mon.ingest_batch(ev.filter(F.col("event_id") % 3 == 2), batch_id=2)
    # at-least-once replay must not double-count
    mon.ingest_batch(ev.filter(F.col("event_id") % 3 == 1), batch_id=1)
    want = sorted(tuple(r) for r in q_ts_periodogram(spark, sf).collect())
    got = sorted(tuple(r) for r in mon.serve_periodogram().collect())
    assert got == want


def test_seasonality_stream_serves_var_es(spark, tmp_path):
    """The same per-day store serves VaR/ES bit-identically to ts_var_es."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.timeseries import (
        q_ts_var_es,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.seasonality_stream import (
        SeasonalityStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    mon = SeasonalityStreamMonitor(spark, str(tmp_path / "risk_store"))
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 1), batch_id=1)  # replay
    want = q_ts_var_es(spark, sf).collect()[0].asDict()
    got = mon.serve_var_es().collect()[0].asDict()
    assert got == want


def test_seasonality_stream_serves_spectral_entropy(spark, tmp_path):
    """Third statistic off the per-day store: served spectral entropy is
    bit-identical to ts_spectral_entropy over the same ticks."""
    from real_time_scraping_and_predicting_time_series_data_spark.catalog import load_table
    from real_time_scraping_and_predicting_time_series_data_spark.operators.timeseries import (
        q_ts_spectral_entropy,
    )
    from real_time_scraping_and_predicting_time_series_data_spark.streaming.seasonality_stream import (
        SeasonalityStreamMonitor,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    mon = SeasonalityStreamMonitor(spark, str(tmp_path / "se_store"))
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 0), batch_id=0)
    mon.ingest_batch(ev.filter(F.col("event_id") % 2 == 1), batch_id=1)
    want = q_ts_spectral_entropy(spark, sf).collect()[0].asDict()
    got = mon.serve_spectral_entropy().collect()[0].asDict()
    assert got == want
    assert 0.0 <= got["normalized_entropy"] <= 1.0
