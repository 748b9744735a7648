"""Statistical aggregates + collection aggregation (SURVEY.md §2.8
"standard relational set", statistical tail): correlation/covariance,
per-key linear trend via regr_* aggregates (the closed-form cousin of the
ml/ forecasters), histograms, ordered collection aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import ensure_min_partitions, load_table
from ..plans.registry import register


@register(
    "stats_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_extendedprice), 4) AS price_sd,
           round(var_samp(l_quantity), 6) AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("stats", "agg"),
)
def q_corr_covar(spark, sf_dir):
    """Correlation / covariance / variance aggregates per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
    )


@register(
    "stats_linear_trend",
    oracle="""
    SELECT user_id,
           round(regr_slope(value, epoch_us(date_trunc('microseconds', ts)) / 86400000000.0), 6)
               AS slope_per_day,
           round(regr_intercept(value, epoch_us(date_trunc('microseconds', ts)) / 86400000000.0), 4)
               AS intercept,
           round(regr_r2(value, epoch_us(date_trunc('microseconds', ts)) / 86400000000.0), 6)
               AS r2
    FROM events GROUP BY user_id
    """,
    tags=("stats", "trend", "timeseries"),
)
def q_linear_trend(spark, sf_dir):
    """Per-key linear trend (value ~ time) via regr_* aggregates — the
    one-shuffle closed-form trend extractor complementing the lag-feature
    forecasters (a 100 TB trend scan is a single grouped aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_micros("ts") / F.lit(86400000000.0)  # days since epoch
    return ev.groupBy("user_id").agg(
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


@register(
    "stats_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 20.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 2) AS bin_min,
           round(max(value), 2) AS bin_max
    FROM events GROUP BY floor(value / 20.0)
    """,
    tags=("stats", "histogram"),
)
def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram (bin = floor(value/20)) — the basic profiling
    scan of a training-data pipeline."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.floor(F.col("value") / 20.0).alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("bin_min"),
        F.round(F.max("value"), 2).alias("bin_max"),
    )


@register(
    "collect_sorted_lists",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types_sorted,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv
    FROM events GROUP BY user_id
    """,
    tags=("stats", "collect"),
)
def q_collect_sorted(spark, sf_dir):
    """Collection aggregation with deterministic ordering: collect_list is
    order-nondeterministic under parallelism, so results are sorted before
    leaving the operator (the only hash-stable way to emit them).  Both
    collection columns are CSV-serialized: array-typed result columns crash
    the driver's pandas-based canonicalizer (``unhashable type: 'list'`` in
    CORRECTNESS_r04), so oracle-bearing queries emit scalars only — the same
    pattern ``ts_sliding_features_arrays`` uses."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_list("event_type")), ",").alias("types_sorted"),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_csv"),
    )


@register(
    "stats_median_mode",
    oracle="""
    WITH med AS (
        SELECT l_returnflag, round(median(l_extendedprice), 6) AS median_price
        FROM lineitem GROUP BY l_returnflag
    ), cnt AS (
        SELECT l_returnflag, l_quantity AS v, count(*) AS n
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ), md AS (
        SELECT l_returnflag, v AS mode_qty,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY n DESC, v) AS rk
        FROM cnt
    )
    SELECT med.l_returnflag, med.median_price, md.mode_qty
    FROM med JOIN md ON med.l_returnflag = md.l_returnflag AND md.rk = 1
    """,
    tags=("stats", "agg", "median", "mode"),
)
def q_median_mode(spark, sf_dir):
    """Grouped median (exact percentile_cont 0.5) and a deterministic mode
    (ties broken toward the smallest value via an explicit count + rank, so
    both engines agree — bare mode() is tie-nondeterministic)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 6).alias("median_price")
    )
    cnt = li.groupBy("l_returnflag", F.col("l_quantity").alias("v")).agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("n"), "v")
    mode = (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_returnflag", F.col("v").alias("mode_qty"))
    )
    return med.join(mode, "l_returnflag")


@register(
    "stats_ordered_string_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("stats", "agg", "string"),
)
def q_ordered_string_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg): collect_set →
    array_sort → concat_ws, deterministic regardless of partition order."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "ts_feature_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
               first_value(value) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
               last_value(value) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           floor((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*))
                 * 1000000 + 0.5) / 1000000 AS mean_value,
           round(stddev_samp(value), 6) AS std_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           round(min(fv), 6) AS first_value,
           round(min(lv), 6) AS last_value,
           round(regr_slope(value, epoch_us(date_trunc('microseconds', ts)) / 86400000000.0), 6)
               AS slope_per_day,
           round(corr(value, prev), 6) AS autocorr_lag1
    FROM seq GROUP BY user_id
    """,
    tags=("stats", "timeseries", "features", "ml"),
)
def q_ts_feature_matrix(spark, sf_dir):
    """Per-key time-series feature matrix (tsfresh-style summary vector) in
    a single pass: count, mean, std, extrema, first/last by time, linear
    trend slope, and lag-1 autocorrelation. The lag window and the grouped
    agg share the same key — one hash exchange total — so a 100 TB feature
    extraction is one shuffle, not ten sequential scans. The mean uses the
    exact-decimal-sum + half-up canonicalization (see seasonal_decompose)
    because a plain double mean of large per-key groups lands on round-6
    boundaries; variance/corr/slope pass through sqrt/ratio forms whose
    boundary probability is negligible."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    seq = ev.select(
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev"),
        # first/last by the UNIQUE (ts, event_id) order — arg_min/max on ts
        # alone would be nondeterministic under duplicate timestamps.
        F.first("value").over(wfull).alias("fv"),
        F.last("value").over(wfull).alias("lv"),
    )
    x = F.unix_micros("ts") / F.lit(86400000000.0)
    mean_exact = (
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*")
    )
    return seq.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_obs"),
        (F.floor(mean_exact * 1000000 + 0.5) / 1000000).alias("mean_value"),
        F.round(F.stddev_samp("value"), 6).alias("std_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.round(F.min("fv"), 6).alias("first_value"),
        F.round(F.min("lv"), 6).alias("last_value"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.corr("value", "prev"), 6).alias("autocorr_lag1"),
    )


@register(
    "ts_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT user_id, median(value) AS med
        FROM events GROUP BY user_id
    ), dev AS (
        SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (user_id)
    ), mad AS (
        SELECT user_id, median(adev) AS mad
        FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(min(d.med), 6) AS median_value,
           round(min(m.mad), 6) AS mad,
           CAST(count(*) FILTER (WHERE d.adev > 3 * 1.4826 * m.mad) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad m USING (user_id)
    GROUP BY d.user_id
    """,
    tags=("stats", "timeseries", "robust", "anomaly"),
)
def q_ts_mad_outliers(spark, sf_dir):
    """Robust per-key outlier counts via the median absolute deviation
    (|x − median| > 3·1.4826·MAD — the robust z-score that, unlike the
    mean/σ z-score in ``ts_anomaly_zscore``, is not itself dragged by the
    outliers it is hunting). Two grouped exact medians + a co-keyed join
    back: three key-partitioned shuffles, no global ordering — `median`
    aggregates per key, never over the full relation."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(med, "user_id").withColumn("adev", F.abs(F.col("value") - F.col("med")))
    mad = dev.groupBy("user_id").agg(F.percentile("adev", 0.5).alias("mad"))
    d = dev.join(mad, "user_id")
    return d.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.round(F.min("med"), 6).alias("median_value"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.sum(
            F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


@register(
    "ml_quantile_binning",
    oracle="""
    WITH b AS (
        SELECT user_id, value,
               ntile(10) OVER (PARTITION BY user_id ORDER BY value, event_id) AS bin
        FROM events
    )
    SELECT user_id, CAST(bin AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM b GROUP BY user_id, bin
    """,
    tags=("ml", "features", "binning"),
)
def q_ml_quantile_binning(spark, sf_dir):
    """Equal-frequency feature discretization: per-key value deciles via
    ``ntile`` (deterministic under the unique (value, event_id) order), then
    per-bin boundaries — the binning table a feature store ships to
    training. One key-partitioned window + a grouped agg riding the same
    key prefix; no global ordering."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "event_id")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    b = ev.withColumn("bin", F.ntile(10).over(w))
    return b.groupBy("user_id", "bin").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    ).select("user_id", F.col("bin").cast("long").alias("bin"), "n", "lo", "hi")


# ---------------------------------------------------------------------------
# Closed-form ridge regression (normal equations as aggregates)
# ---------------------------------------------------------------------------


@register(
    "ml_ridge_closed_form",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               sum(l_quantity) AS sx,
               sum(l_extendedprice) AS sy,
               sum(l_quantity * l_quantity) AS sxx,
               sum(l_quantity * l_extendedprice) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(((n + 10.0) * sxy - sx * sy) /
                 ((sxx + 10.0) * (n + 10.0) - sx * sx), 6) AS ridge_w,
           round(((sxx + 10.0) * sy - sx * sxy) /
                 ((sxx + 10.0) * (n + 10.0) - sx * sx), 4) AS ridge_b
    FROM s
    """,
    tags=("ml", "ridge", "closed-form"),
)
def q_ridge_closed_form(spark, sf_dir):
    """Per-group ridge regression (y = w·x + b, λ=10, penalty on both
    coefficients) solved in closed form from FIVE scalar aggregates — the
    2×2 normal-equation system inverted symbolically:

        w = ((n+λ)·Sxy − Sx·Sy) / det,  b = ((Sxx+λ)·Sy − Sx·Sxy) / det,
        det = (Sxx+λ)(n+λ) − Sx²

    The 100 TB shape of model fitting: ONE grouped aggregation over the
    data (map-side partial sums), then O(1) scalar math per group — no
    gradient loop, no driver-side matrix, no second pass. Complements the
    d-dimensional lstsq in ml/forecast.py (reference training loop,
    ``lvmh_forecaster2.py:90-104``) with the regularized closed form."""
    li = load_table(spark, sf_dir, "lineitem")
    lam = F.lit(10.0)
    s = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    )
    det = (F.col("sxx") + lam) * (F.col("n") + lam) - F.col("sx") * F.col("sx")
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(((F.col("n") + lam) * F.col("sxy") - F.col("sx") * F.col("sy")) / det, 6).alias(
            "ridge_w"
        ),
        F.round(((F.col("sxx") + lam) * F.col("sy") - F.col("sx") * F.col("sxy")) / det, 4).alias(
            "ridge_b"
        ),
    )


# ---------------------------------------------------------------------------
# PCA first principal component via power iteration
# ---------------------------------------------------------------------------

_PCA_DIMS = 8
_PCA_ITERS = 3


def _pca_cov(spark, sf_dir):
    """(i, j, c) population covariance of the first _PCA_DIMS embedding
    dims: explode → center → self-join on vec_id → one grouped avg. The
    64-row covariance table is the broadcastable 'model'; the corpus is
    read once."""
    from ..functions.vector import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.slice(as_double(F.col("embedding")), 1, _PCA_DIMS)).alias("i", "x"),
    )
    mu = ex.groupBy("i").agg(F.avg("x").alias("mu"))
    exc = ex.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("x") - F.col("mu")).alias("xc")
    )
    a = exc.select("vec_id", F.col("i").alias("ci"), F.col("xc").alias("xa"))
    b = exc.select("vec_id", F.col("i").alias("cj"), F.col("xc").alias("xb"))
    return (
        a.join(b, "vec_id")
        .groupBy("ci", "cj")
        .agg(F.avg(F.col("xa") * F.col("xb")).alias("c"))
    )


@register(
    "ml_pca_power_iteration",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (
        SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e
    ),
    exd AS (SELECT vec_id, i, x FROM ex WHERE i < {_PCA_DIMS}),
    mu AS (SELECT i, avg(x) AS mu FROM exd GROUP BY i),
    exc AS (SELECT d.vec_id, d.i, d.x - m.mu AS xc FROM exd d JOIN mu m ON m.i = d.i),
    c AS (
        SELECT a.i AS ci, b.i AS cj, avg(a.xc * b.xc) AS c
        FROM exc a JOIN exc b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    v0 AS (SELECT i, CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS v FROM mu),
    u1 AS (SELECT c.ci AS i, sum(c.c * v.v) AS u FROM c JOIN v0 v ON v.i = c.cj GROUP BY c.ci),
    v1 AS (SELECT i, u / sqrt((SELECT sum(u * u) FROM u1)) AS v FROM u1),
    u2 AS (SELECT c.ci AS i, sum(c.c * v.v) AS u FROM c JOIN v1 v ON v.i = c.cj GROUP BY c.ci),
    v2 AS (SELECT i, u / sqrt((SELECT sum(u * u) FROM u2)) AS v FROM u2),
    u3 AS (SELECT c.ci AS i, sum(c.c * v.v) AS u FROM c JOIN v2 v ON v.i = c.cj GROUP BY c.ci),
    v3 AS (SELECT i, u / sqrt((SELECT sum(u * u) FROM u3)) AS v FROM u3),
    ray AS (
        SELECT sum(a.v * c.c * b.v) AS lam
        FROM c JOIN v3 a ON a.i = c.ci JOIN v3 b ON b.i = c.cj
    )
    SELECT CAST(v3.i AS INT) AS dim,
           round(v3.v, 6) AS pc1,
           round((SELECT lam FROM ray), 6) AS eigenvalue
    FROM v3
    """,
    tags=("ml", "pca", "power-iteration"),
)
def q_pca_power_iteration(spark, sf_dir):
    """First principal component of the leading {dims} embedding dims via
    {iters} power iterations (v ← C·v / ‖C·v‖ from v₀ = e₀), plus the
    Rayleigh-quotient eigenvalue — the canonical iterative linear-algebra
    shape on a DataFrame engine: the corpus is read ONCE to build the
    (dims², 3)-row covariance model; every iteration is a join + grouped
    sum over that tiny table, never over the data. Deterministic start
    vector → deterministic sign → full value-hash oracle (the one
    'iterative algorithm' family the driver can hash)."""
    cov = _pca_cov(spark, sf_dir).localCheckpoint(eager=False)
    v = cov.select(F.col("ci").alias("i")).distinct().select(
        "i", F.when(F.col("i") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("v")
    )
    for _ in range(_PCA_ITERS):
        u = (
            cov.join(F.broadcast(v.withColumnRenamed("i", "cj")), "cj")
            .groupBy("ci")
            .agg(F.sum(F.col("c") * F.col("v")).alias("u"))
        )
        nrm = u.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nrm"))
        v = (
            u.crossJoin(F.broadcast(nrm))
            .select(F.col("ci").alias("i"), (F.col("u") / F.col("nrm")).alias("v"))
        )
    lam = (
        cov.join(F.broadcast(v.select(F.col("i").alias("ci"), F.col("v").alias("va"))), "ci")
        .join(F.broadcast(v.select(F.col("i").alias("cj"), F.col("v").alias("vb"))), "cj")
        .agg(F.sum(F.col("va") * F.col("c") * F.col("vb")).alias("lam"))
    )
    return (
        v.crossJoin(F.broadcast(lam))
        .select(
            F.col("i").cast("int").alias("dim"),
            F.round("v", 6).alias("pc1"),
            F.round("lam", 6).alias("eigenvalue"),
        )
    )


q_pca_power_iteration.__doc__ = q_pca_power_iteration.__doc__.format(
    dims=_PCA_DIMS, iters=_PCA_ITERS
)


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift statistic
# ---------------------------------------------------------------------------


@register(
    "stats_ks_drift",
    oracle="""
    WITH tagged AS (
        SELECT n_chars AS v,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a,
               CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS b
        FROM documents WHERE source IN ('src0', 'src1')
    ), tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM tagged
    ), g AS (
        SELECT v, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(b) AS BIGINT) AS cb
        FROM tagged GROUP BY v
    ), c AS (
        SELECT v,
               CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
               CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
        FROM g
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           max(abs(c.cuma * t.nb - c.cumb * t.na)) AS ks_num,
           max(abs(c.cuma * t.nb - c.cumb * t.na)) / CAST(t.na * t.nb AS DOUBLE) AS ks_d
    FROM c CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
    tags=("stats", "ks", "drift"),
)
def q_stats_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between src0's and src1's
    document-length distributions — the distribution-drift gate a corpus
    pipeline runs before accepting a new data source. INTEGER-EXACT: the
    supremum is computed as max |cumA·n_B − cumB·n_A| over the merged
    distinct-value grid (ties handled by grouping first), so every
    intermediate is a BIGINT and both engines agree bit-wise; the single
    division at the end is one deterministic IEEE op. The global cumsum
    runs over the distinct-VALUE relation (hundreds of rows), not the
    documents — the one acceptable single-partition window."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tagged = docs.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("a"),
        F.when(F.col("source") == "src1", 1).otherwise(0).alias("b"),
    )
    g = tagged.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"), F.sum("b").cast("long").alias("cb")
    )
    return ks_from_value_grid(g)


def grid_cumsum(g, sum_cols, order_col="v", nbuckets=64, value_range=None):
    """Running (inclusive) cumulative sums over a distinct-value grid
    WITHOUT a global single-partition sort (VERDICT r4 item 5).

    A bare ``Window.orderBy(v)`` funnels the whole grid through one task —
    fine for bounded integer-cent grids, a scale-killer once the order
    column is unbounded-cardinality doubles. Instead:

    1. each row gets a bucket id that is monotone in the order column, so
       bucket ranges tile the sort order. When ``value_range=(lo, hi)``
       gives the column's a-priori integer bounds (quantized domains like
       pc = floor(1e6·p + 0.5) ∈ [0, 1e6]), the id is closed-form integer
       arithmetic — NO bounds job at all (VERDICT r13 item 1: the
       percentile sketch was pure overhead on a domain whose bounds are
       known by construction). Otherwise one tiny aggregate computes
       ``nbuckets-1`` approximate percentile boundaries (broadcast, rows
       never move) and the id is #boundaries <= v;
    2. the running sum runs WITHIN each bucket (parallel across buckets);
    3. per-bucket offsets come from the ``nbuckets``-row bucket-total
       relation — its global window is bounded by construction — and are
       broadcast-joined back.

    Integer arithmetic throughout, so the result is bit-identical to the
    single-partition form for ANY bucketing (closed-form and percentile
    tilings give the same output — pinned by the hypothesis equivalence
    property in test_r5_operators). ``nbuckets`` is clamped to >= 2: at 1
    the percentile-fraction list is empty and ``percentile_approx(col, [])``
    poisons the bounds row (the whole result came back EMPTY — caught by
    the hypothesis equivalence property, not by any fixture)."""
    nbuckets = max(2, nbuckets)
    if value_range is not None:
        lo, hi = value_range
        span = max(1, int(hi) - int(lo) + 1)
        # exact integer bucketing: ((v - lo) * nb) div span ∈ [0, nb-1],
        # non-decreasing in v — a valid monotone tiling like any other
        b = g.withColumn(
            "_blk",
            F.expr(
                f"((cast({order_col} as bigint) - {int(lo)}) * {nbuckets})"
                f" div {span}"
            ),
        )
    else:
        fracs = [i / nbuckets for i in range(1, nbuckets)]
        bounds = g.agg(
            F.percentile_approx(order_col, fracs, 10000).alias("_bounds")
        )
        b = g.crossJoin(F.broadcast(bounds)).withColumn(
            "_blk", F.size(F.filter(F.col("_bounds"), lambda x: x <= F.col(order_col)))
        )
    w_in = (
        Window.partitionBy("_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.select(
        *g.columns,
        "_blk",
        *[F.sum(c).over(w_in).cast("long").alias(f"_loc_{c}") for c in sum_cols],
    )
    tot = b.groupBy("_blk").agg(
        *[F.sum(c).cast("long").alias(f"_t_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offs = tot.select(
        "_blk",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w_off), F.lit(0))
            .cast("long")
            .alias(f"_off_{c}")
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offs), "_blk")
    return out.select(
        *g.columns,
        *[
            (F.col(f"_loc_{c}") + F.col(f"_off_{c}")).alias(f"cum_{c}")
            for c in sum_cols
        ],
    )


def ks_from_value_grid(g, value_range=None):
    """Two-sample KS distance from a (v, ca, cb) distinct-value count grid
    — the shared core of `stats_ks_drift` and the streaming drift monitor
    (streaming/drift_stream.py). Count grids are MERGEABLE (grouped sums
    commute/associate), so an incrementally accumulated grid yields the
    EXACT batch statistic — the same mergeability argument as the CMS
    counter tables. The CDF running sums use the range-partitioned
    `grid_cumsum` (no single-partition global sort); ``value_range``
    passes a-priori integer bounds through for closed-form bucketing."""
    tot = g.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    c = grid_cumsum(g, ["ca", "cb"], value_range=value_range).select(
        "v", F.col("cum_ca").alias("cuma"), F.col("cum_cb").alias("cumb")
    )
    # KS is undefined when either sample is empty — emit no row instead of
    # an ANSI divide-by-zero (degenerate merged grids reach here via the
    # streaming monitor before both sources have data; caught by the
    # hypothesis mergeability property).
    j = c.crossJoin(F.broadcast(tot)).filter((F.col("na") > 0) & (F.col("nb") > 0))
    num = F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
    return j.groupBy("na", "nb").agg(
        F.max(num).alias("ks_num"),
        (F.max(num) / (F.col("na") * F.col("nb")).cast("double")).alias("ks_d"),
    ).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "ks_num", "ks_d"
    )


# ---------------------------------------------------------------------------
# Seasonal-residual robust anomalies (STL-style residual + MAD)
# ---------------------------------------------------------------------------


@register(
    "ts_anomaly_stl_residual",
    oracle="""
    WITH c AS (
        SELECT user_id, value, CAST(round(value * 100) AS BIGINT) AS vi,
               CAST(hour(ts) AS INT) AS hr
        FROM events
    ), seas AS (
        SELECT user_id, hr,
               CAST(sum(vi) AS BIGINT) / (100.0 * count(*)) AS s
        FROM c GROUP BY user_id, hr
    ), resid AS (
        SELECT c.user_id, c.value - s.s AS r
        FROM c JOIN seas s ON s.user_id = c.user_id AND s.hr = c.hr
    ), med AS (
        SELECT user_id, median(r) AS med FROM resid GROUP BY user_id
    ), dev AS (
        SELECT r.user_id, abs(r.r - m.med) AS adev
        FROM resid r JOIN med m USING (user_id)
    ), mad AS (
        SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(min(m.mad), 6) AS resid_mad,
           CAST(count(*) FILTER (WHERE d.adev > 3 * 1.4826 * m.mad) AS BIGINT)
               AS n_anomalies
    FROM dev d JOIN mad m USING (user_id)
    GROUP BY d.user_id
    """,
    tags=("stats", "timeseries", "anomaly", "seasonal"),
)
def q_ts_anomaly_stl_residual(spark, sf_dir):
    """Seasonality-aware robust anomaly counts: subtract the per-(key,
    hour-of-day) seasonal mean (computed from exact integer-cent sums —
    bit-reproducible regardless of summation order, same trick as
    ``ts_seasonal_decompose``), then apply the MAD robust z-score to the
    residuals. Catches off-season spikes that the raw-value detectors
    (``ts_anomaly_zscore``, ``ts_mad_outliers``) miss because the seasonal
    swing inflates their scale estimate. All shuffles are key-partitioned;
    medians aggregate per key."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "value",
        F.round(F.col("value") * 100).cast("long").alias("vi"),
        F.hour("ts").cast("int").alias("hr"),
    )
    seas = c.groupBy("user_id", "hr").agg(
        (F.sum("vi").cast("long") / (100.0 * F.count("*"))).alias("s")
    )
    resid = c.join(seas, ["user_id", "hr"]).select(
        "user_id", (F.col("value") - F.col("s")).alias("r")
    )
    med = resid.groupBy("user_id").agg(F.percentile("r", 0.5).alias("med"))
    dev = resid.join(med, "user_id").select(
        "user_id", F.abs(F.col("r") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("user_id").agg(F.percentile("adev", 0.5).alias("mad"))
    d = dev.join(mad, "user_id")
    return d.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.round(F.min("mad"), 6).alias("resid_mad"),
        F.sum(F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0))
        .cast("long")
        .alias("n_anomalies"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum drift test (the KS statistic's rank-based sibling)
# ---------------------------------------------------------------------------


@register(
    "stats_mann_whitney",
    oracle="""
    WITH tagged AS (
        SELECT n_chars AS v,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a,
               CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS b
        FROM documents WHERE source IN ('src0', 'src1')
    ), tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM tagged
    ), g AS (
        SELECT v, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(b) AS BIGINT) AS cb,
               CAST(count(*) AS BIGINT) AS cnt
        FROM tagged GROUP BY v
    ), c AS (
        SELECT v, ca, cb, cnt,
               CAST(COALESCE(sum(cnt) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cumbefore
        FROM g
    ), s AS (
        SELECT t.na, t.nb,
               CAST(sum(ca * (2 * cumbefore + cnt + 1)) AS BIGINT)
                 - t.na * (t.na + 1) AS u2,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        FROM c CROSS JOIN tot t
        GROUP BY t.na, t.nb
    )
    SELECT na AS n_a, nb AS n_b, u2 AS u_twice,
           CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
           floor(
               (CAST(u2 AS DOUBLE) - CAST(na * nb AS DOUBLE))
               / (2.0 * sqrt(
                   (CAST(na * nb AS DOUBLE) / 12.0)
                   * ((CAST(na + nb AS DOUBLE) + 1.0)
                      - CAST(ties AS DOUBLE)
                        / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))))
               * 1000000 + 0.5) / 1000000 AS z_score
    FROM s
    """,
    tags=("stats", "drift", "rank"),
)
def q_stats_mann_whitney(spark, sf_dir):
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) between src0's and
    src1's document-length distributions, with the tie-corrected normal
    approximation z-score — the rank-based drift gate that sees median
    shifts the KS supremum is insensitive to. INTEGER-EXACT like
    `stats_ks_drift`: midranks come from the distinct-value grid
    (2·midrank = 2·cum_before + cnt + 1, all BIGINT), doubled-U
    ``u2 = Σ ca·(2·cum_before+cnt+1) − na(na+1)`` stays integral, and the
    tie term Σ(t³−t) is integral, so both engines agree bit-wise until the
    single fixed-shape z expression at the end (floor-canonicalized
    half-up to 6 dp, the `ts_ewma` convention — F.round/DuckDB round
    resolve half boundaries differently). The global rank
    window runs over distinct VALUES (hundreds of rows), never documents."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tagged = docs.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("a"),
        F.when(F.col("source") == "src1", 1).otherwise(0).alias("b"),
    )
    g = tagged.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum("b").cast("long").alias("cb"),
    )
    return mann_whitney_from_value_grid(g)


def mann_whitney_from_value_grid(g):
    """Tie-corrected Mann-Whitney U from a (v, ca, cb) distinct-value count
    grid — the shared core of `stats_mann_whitney` and the streaming drift
    monitor. Like `ks_from_value_grid`, count grids are mergeable, so the
    incrementally accumulated statistic equals the batch one exactly
    (cnt at a value is ca + cb by construction). The exclusive rank prefix
    (``cumbefore``) is the range-partitioned inclusive cumsum minus the
    row's own count — no single-partition global sort."""
    g = g.select("v", "ca", "cb", (F.col("ca") + F.col("cb")).alias("cnt"))
    tot = g.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    c = grid_cumsum(g, ["cnt"]).select(
        "v", "ca", "cb", "cnt",
        (F.col("cum_cnt") - F.col("cnt")).cast("long").alias("cumbefore"),
    )
    s = (
        # U needs both samples and n >= 2 (the tie correction divides by
        # n(n-1)) — emit no row on degenerate grids instead of an ANSI
        # divide-by-zero (hypothesis degenerate-grid audit).
        c.crossJoin(F.broadcast(tot))
        .filter((F.col("na") > 0) & (F.col("nb") > 0) & (F.col("na") + F.col("nb") >= 2))
        .groupBy("na", "nb")
        .agg(
            (
                F.sum(F.col("ca") * (2 * F.col("cumbefore") + F.col("cnt") + 1)).cast("long")
                - F.col("na") * (F.col("na") + 1)
            ).alias("u2"),
            F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
            .cast("long")
            .alias("ties"),
        )
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    nd = (F.col("na") + F.col("nb")).cast("double")
    u2d = F.col("u2").cast("double")
    var = ((F.col("na") * F.col("nb")).cast("double") / F.lit(12.0)) * (
        (nd + F.lit(1.0)) - F.col("ties").cast("double") / (nd * (nd - F.lit(1.0)))
    )
    z = (u2d - (F.col("na") * F.col("nb")).cast("double")) / (F.lit(2.0) * F.sqrt(var))
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("u2").alias("u_twice"),
        (u2d / F.lit(2.0)).alias("u_stat"),
        # all-ties grids have zero rank variance: U is defined, z is not
        F.when(var > 0, F.floor(z * 1000000 + 0.5) / 1000000).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend — median of pairwise slopes over the daily grid
# ---------------------------------------------------------------------------


@register(
    "ts_theil_sen",
    oracle="""
    WITH vi AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ), daily AS (
        SELECT user_id, d,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY user_id, d
    ), pairs AS (
        SELECT a.user_id, a.d AS d1, b.d AS d2,
               (b.m - a.m) / CAST(date_diff('day', a.d, b.d) AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON a.user_id = b.user_id AND a.d < b.d
    ), ranked AS (
        SELECT user_id, slope, d1, d2,
               row_number() OVER (PARTITION BY user_id ORDER BY slope, d1, d2) AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM pairs
    )
    SELECT user_id, CAST(max(cnt) AS BIGINT) AS n_pairs,
           floor(avg(slope) * 1000000 + 0.5) / 1000000 AS sen_slope
    FROM ranked
    WHERE rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)
       OR rn = CAST(floor((cnt + 2) / 2.0) AS BIGINT)
    GROUP BY user_id
    """,
    tags=("stats", "timeseries", "robust"),
)
def q_ts_theil_sen(spark, sf_dir):
    """Per-user Theil-Sen robust trend: the median of all pairwise slopes
    of the DAILY mean series — the breakdown-resistant alternative to
    `stats_linear_trend`'s least-squares slope (a single corrupted day
    cannot move it). The daily pre-aggregation is the scale move: pairwise
    slopes are quadratic, so they are formed on the per-key daily grid
    (tens of rows per key after one grouped agg), never on raw ticks; the
    self-join and the median window are both partitioned by user_id, so
    the whole query is one key-shuffle plus co-partitioned narrow work.
    Bit-parity: daily means are exact integer sums divided once
    (`sum(round(v*100))/(100·n)`, the `ts_anomaly_stl_residual`
    convention), each slope is a single fixed-shape IEEE expression, and
    the median picks rows by integer rank (avg of the middle one/two)."""
    ev = load_table(spark, sf_dir, "events")
    vi = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("user_id", "d").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    # materialize the daily grid once: without this the self-join's two
    # branches each re-scan and re-aggregate the raw tick table (the plan
    # showed two independent (user_id, d) exchanges); the grid is tiny
    # (keys x days) and the raw scan is the 100 TB cost.
    daily = daily.localCheckpoint(eager=False)
    a = daily.select("user_id", F.col("d").alias("d1"), F.col("m").alias("m1"))
    b = daily.select("user_id", F.col("d").alias("d2"), F.col("m").alias("m2"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "user_id", "d1", "d2",
            (
                (F.col("m2") - F.col("m1"))
                / F.datediff(F.col("d2"), F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("slope", "d1", "d2")
    wc = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id", "slope",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(wc).cast("long").alias("cnt"),
    )
    mid1 = F.floor((F.col("cnt") + 1) / F.lit(2.0)).cast("long")
    mid2 = F.floor((F.col("cnt") + 2) / F.lit(2.0)).cast("long")
    return (
        ranked.filter((F.col("rn") == mid1) | (F.col("rn") == mid2))
        .groupBy("user_id")
        .agg(
            F.max("cnt").cast("long").alias("n_pairs"),
            (F.floor(F.avg("slope") * 1000000 + 0.5) / 1000000).alias("sen_slope"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — data-quality / fraud gate on amounts
# ---------------------------------------------------------------------------

# log10(1 + 1/d) to full double precision; literal constants (NOT computed
# via log() at query time) because libm ln/log10 are not bit-identical
# across engines.
_BENFORD_P = {
    1: "0.3010299956639812", 2: "0.17609125905568124", 3: "0.12493873660829992",
    4: "0.09691001300805642", 5: "0.07918124604762482", 6: "0.06694678963061322",
    7: "0.05799194697768673", 8: "0.05115252244738129", 9: "0.04575749056067514",
}


@register(
    "dq_benford_totalprice",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ), fd AS (
        SELECT CAST(floor(cents / power(10, length(CAST(cents AS VARCHAR)) - 1)) AS INT)
               AS digit
        FROM c
    ), g AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM fd GROUP BY digit
    ), tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM g)
    SELECT g.digit, g.observed,
           CASE g.digit {' '.join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())} END
             AS benford_p,
           floor((CAST(g.observed AS DOUBLE) / CAST(t.n AS DOUBLE)
                  - CASE g.digit {' '.join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())} END)
                 * 1000000 + 0.5) / 1000000 AS deviation
    FROM g CROSS JOIN tot t
    """,
    tags=("dq", "stats", "benford"),
)
def q_dq_benford(spark, sf_dir):
    """First-significant-digit distribution of order totals vs Benford's
    law — the classic data-quality / fabricated-amounts audit, per digit:
    observed count, theoretical p, and the frequency deviation. The first
    digit is extracted INTEGER-exactly: amounts become BIGINT cents, and
    the digit is floor(cents / 10^(len-1)) via the integer's string length
    — no float log10 anywhere (libm log isn't bit-portable; the division
    by an exact power of ten cannot cross an integer boundary because real
    fractional parts are >= 1e-7). Benford probabilities are full-precision
    literals; the one derived double (deviation) is floor-canonicalized.
    One grouped agg on a 9-row relation — the scan is the whole cost."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    fd = o.select(cents.alias("cents")).select(
        F.floor(
            F.col("cents")
            / F.pow(F.lit(10.0), F.length(F.col("cents").cast("string")) - 1)
        )
        .cast("int")
        .alias("digit")
    )
    g = fd.groupBy("digit").agg(F.count("*").cast("long").alias("observed"))
    tot = g.agg(F.sum("observed").cast("long").alias("n"))
    pexpr = F.lit(None).cast("double")
    for d, p in _BENFORD_P.items():
        pexpr = F.when(F.col("digit") == d, F.lit(float(p))).otherwise(pexpr)
    j = g.crossJoin(F.broadcast(tot))
    dev = F.col("observed").cast("double") / F.col("n").cast("double") - pexpr
    return j.select(
        "digit", "observed",
        pexpr.alias("benford_p"),
        (F.floor(dev * 1000000 + 0.5) / 1000000).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Chi-square contingency — event_type x day-part independence
# ---------------------------------------------------------------------------


@register(
    "stats_chi_square_contingency",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CAST(floor(hour(ts) / 6) AS INT) AS daypart,
               CAST(count(*) AS BIGINT) AS obs
        FROM events GROUP BY event_type, CAST(floor(hour(ts) / 6) AS INT)
    ), rowt AS (
        SELECT event_type, CAST(sum(obs) AS BIGINT) AS rn FROM cells GROUP BY event_type
    ), colt AS (
        SELECT daypart, CAST(sum(obs) AS BIGINT) AS cn FROM cells GROUP BY daypart
    ), tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells)
    SELECT c.event_type, c.daypart, c.obs,
           floor(CAST(r.rn * co.cn AS DOUBLE) / CAST(t.n AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS expected,
           floor(
               ((CAST(c.obs AS DOUBLE) - CAST(r.rn * co.cn AS DOUBLE) / CAST(t.n AS DOUBLE))
                * (CAST(c.obs AS DOUBLE) - CAST(r.rn * co.cn AS DOUBLE) / CAST(t.n AS DOUBLE)))
               / (CAST(r.rn * co.cn AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1000000 + 0.5)
             / 1000000 AS chi2_contrib
    FROM cells c
    JOIN rowt r USING (event_type)
    JOIN colt co USING (daypart)
    CROSS JOIN tot t
    """,
    tags=("stats", "chi2", "contingency"),
)
def q_stats_chi_square(spark, sf_dir):
    """Chi-square contingency decomposition of event_type x day-part (6h
    buckets): observed counts, independence-expected counts, and per-cell
    chi2 contributions — which (type, time) cells drive dependence. All
    marginals are exact BIGINTs from ONE pass over the cell relation
    (|types|·4 rows; the re-aggregations and joins touch only that tiny
    grid, so the corpus is scanned once); the derived doubles are single
    fixed-shape expressions, floor-canonicalized. Per-cell contributions
    are emitted instead of the scalar Σ so the output is both the test
    statistic (sum it) and the diagnosis (sort it)."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.floor(F.hour("ts") / 6).cast("int").alias("daypart"),
        )
        .groupBy("event_type", "daypart")
        .agg(F.count("*").cast("long").alias("obs"))
    )
    cells = cells.localCheckpoint(eager=False)
    rowt = cells.groupBy("event_type").agg(F.sum("obs").cast("long").alias("rn"))
    colt = cells.groupBy("daypart").agg(F.sum("obs").cast("long").alias("cn"))
    tot = cells.agg(F.sum("obs").cast("long").alias("n"))
    exp = (F.col("rn") * F.col("cn")).cast("double") / F.col("n").cast("double")
    diff = F.col("obs").cast("double") - exp
    return (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "daypart")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type", "daypart", "obs",
            (F.floor(exp * 1000000 + 0.5) / 1000000).alias("expected"),
            (F.floor((diff * diff) / exp * 1000000 + 0.5) / 1000000).alias("chi2_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# One-pass schema profile — the data-profiling staple
# ---------------------------------------------------------------------------


@register(
    "dq_schema_profile",
    oracle="""
    WITH a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(event_id) AS BIGINT) AS nn1,
               CAST(count(DISTINCT event_id) AS BIGINT) AS nd1,
               CAST(min(event_id) AS DOUBLE) AS mn1, CAST(max(event_id) AS DOUBLE) AS mx1,
               CAST(count(ts) AS BIGINT) AS nn2,
               CAST(count(DISTINCT ts) AS BIGINT) AS nd2,
               CAST(min(epoch_us(date_trunc('microseconds', ts))) AS DOUBLE) AS mn2,
               CAST(max(epoch_us(date_trunc('microseconds', ts))) AS DOUBLE) AS mx2,
               CAST(count(user_id) AS BIGINT) AS nn3,
               CAST(count(DISTINCT user_id) AS BIGINT) AS nd3,
               CAST(min(user_id) AS DOUBLE) AS mn3, CAST(max(user_id) AS DOUBLE) AS mx3,
               CAST(count(event_type) AS BIGINT) AS nn4,
               CAST(count(DISTINCT event_type) AS BIGINT) AS nd4,
               CAST(count(value) AS BIGINT) AS nn5,
               CAST(count(DISTINCT value) AS BIGINT) AS nd5,
               min(value) AS mn5, max(value) AS mx5,
               CAST(count(props) AS BIGINT) AS nn6,
               CAST(count(DISTINCT props) AS BIGINT) AS nd6
        FROM events
    )
    SELECT 'event_id' AS column_name, n AS n_rows, n - nn1 AS n_nulls, nd1 AS n_distinct, mn1 AS min_num, mx1 AS max_num FROM a
    UNION ALL SELECT 'ts', n, n - nn2, nd2, mn2, mx2 FROM a
    UNION ALL SELECT 'user_id', n, n - nn3, nd3, mn3, mx3 FROM a
    UNION ALL SELECT 'event_type', n, n - nn4, nd4, NULL, NULL FROM a
    UNION ALL SELECT 'value', n, n - nn5, nd5, mn5, mx5 FROM a
    UNION ALL SELECT 'props', n, n - nn6, nd6, NULL, NULL FROM a
    """,
    tags=("dq", "profiling"),
)
def q_dq_schema_profile(spark, sf_dir):
    """One-pass column profile of the events table: row count, null count,
    exact distinct count, numeric min/max per column (timestamps profiled
    as epoch microseconds; string columns get NULL bounds — double
    FORMATTING is not cross-engine portable, numeric values are). All 21
    aggregates ride ONE scan into one agg row, then unpivot to the 6-row
    profile via a per-row explode (no re-scan per column — the mistake
    naive profilers make at 100 TB). This is the ingest-gate scan run
    before a new data drop is admitted."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.agg(
        F.count("*").cast("long").alias("n"),
        F.count("event_id").cast("long").alias("nn1"),
        F.countDistinct("event_id").cast("long").alias("nd1"),
        F.min("event_id").cast("double").alias("mn1"),
        F.max("event_id").cast("double").alias("mx1"),
        F.count("ts").cast("long").alias("nn2"),
        F.countDistinct("ts").cast("long").alias("nd2"),
        F.min(F.unix_micros("ts")).cast("double").alias("mn2"),
        F.max(F.unix_micros("ts")).cast("double").alias("mx2"),
        F.count("user_id").cast("long").alias("nn3"),
        F.countDistinct("user_id").cast("long").alias("nd3"),
        F.min("user_id").cast("double").alias("mn3"),
        F.max("user_id").cast("double").alias("mx3"),
        F.count("event_type").cast("long").alias("nn4"),
        F.countDistinct("event_type").cast("long").alias("nd4"),
        F.count("value").cast("long").alias("nn5"),
        F.countDistinct("value").cast("long").alias("nd5"),
        F.min("value").alias("mn5"),
        F.max("value").alias("mx5"),
        F.count("props").cast("long").alias("nn6"),
        F.countDistinct("props").cast("long").alias("nd6"),
    )
    nulld = F.lit(None).cast("double")
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("column_name"),
                F.col("n").alias("n_rows"),
                (F.col("n") - F.col(f"nn{i}")).alias("n_nulls"),
                F.col(f"nd{i}").alias("n_distinct"),
                (F.col(f"mn{i}") if has_num else nulld).alias("min_num"),
                (F.col(f"mx{i}") if has_num else nulld).alias("max_num"),
            )
            for i, (name, has_num) in enumerate(
                [("event_id", True), ("ts", True), ("user_id", True),
                 ("event_type", False), ("value", True), ("props", False)],
                start=1,
            )
        ]
    )
    return a.select(F.explode(rows).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Spearman rank correlation — midranks from the distinct-value grid
# ---------------------------------------------------------------------------


@register(
    "stats_spearman_corr",
    oracle="""
    WITH r AS (
        SELECT l_quantity AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ), rk AS (
        SELECT x, y,
               rank() OVER (ORDER BY x)
                 + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
               rank() OVER (ORDER BY y)
                 + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
        FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(corr(rx, ry), 6) AS spearman_rho
    FROM rk
    """,
    tags=("stats", "rank", "correlation"),
)
def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between quantity and price (integer
    cents), tie-corrected via midranks. The monotone-association cousin of
    `stats_corr_covar`'s Pearson — robust to the nonlinearity a price curve
    actually has.

    Scale shape: ranks are NEVER computed by sorting the fact table — each
    variable reduces to its distinct-value count grid, the midrank of a
    value is (rank of values before it) + (ties+1)/2 from the
    range-partitioned `grid_cumsum`, and midranks join back to rows by
    value (two value-key shuffles + one correlation aggregate). The oracle
    ranks directly with window functions — fine at sf0.01, exactly the
    single-partition sort the engine avoids."""
    li = load_table(spark, sf_dir, "lineitem")
    # The 2-long-column projection feeds FIVE branches (two grids, their
    # bounds/total aggregates, and the rank join) — materialize it once
    # instead of re-scanning the fact table per branch.
    d = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    ).localCheckpoint(eager=False)

    def midranks(col):
        g = d.groupBy(col).agg(F.count("*").cast("long").alias("cnt"))
        return grid_cumsum(g, ["cnt"], order_col=col).select(
            col,
            (
                (F.col("cum_cnt") - F.col("cnt") + 1).cast("double")
                + (F.col("cnt") - 1) / F.lit(2.0)
            ).alias(f"r_{col}"),
        )

    ranked = d.join(midranks("x"), "x").join(midranks("y"), "y")
    return ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.corr("r_x", "r_y"), 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Logistic regression via distributed Newton steps (domain classifier)
# ---------------------------------------------------------------------------


def _solve3(s11, s12, s13, s22, s23, s33, g1, g2, g3, scale):
    """Apply the inverse of a symmetric 3x3 [[s11,s12,s13],[s12,s22,s23],
    [s13,s23,s33]] to (g1,g2,g3) via the adjugate — pure Column arithmetic,
    written with the exact parenthesization the SQL oracle uses so both
    engines evaluate the same IEEE expression tree."""
    det = (
        s11 * (s22 * s33 - s23 * s23)
        - s12 * (s12 * s33 - s13 * s23)
        + s13 * (s12 * s23 - s13 * s22)
    )
    b0 = scale * (
        (s22 * s33 - s23 * s23) * g1
        + (s13 * s23 - s12 * s33) * g2
        + (s12 * s23 - s13 * s22) * g3
    ) / det
    b1 = scale * (
        (s13 * s23 - s12 * s33) * g1
        + (s11 * s33 - s13 * s13) * g2
        + (s12 * s13 - s11 * s23) * g3
    ) / det
    b2 = scale * (
        (s12 * s23 - s13 * s22) * g1
        + (s12 * s13 - s11 * s23) * g2
        + (s11 * s22 - s12 * s12) * g3
    ) / det
    return b0, b1, b2


_LOGISTIC_SOLVE_SQL = """
        {scale} * ((s22*s33 - s23*s23) * g1
                   + (s13*s23 - s12*s33) * g2
                   + (s12*s23 - s13*s22) * g3)
        / (s11 * (s22*s33 - s23*s23)
           - s12 * (s12*s33 - s13*s23)
           + s13 * (s12*s23 - s13*s22)) AS {c0},
        {scale} * ((s13*s23 - s12*s33) * g1
                   + (s11*s33 - s13*s13) * g2
                   + (s12*s13 - s11*s23) * g3)
        / (s11 * (s22*s33 - s23*s23)
           - s12 * (s12*s33 - s13*s23)
           + s13 * (s12*s23 - s13*s22)) AS {c1},
        {scale} * ((s12*s23 - s13*s22) * g1
                   + (s12*s13 - s11*s23) * g2
                   + (s11*s22 - s12*s12) * g3)
        / (s11 * (s22*s33 - s23*s23)
           - s12 * (s12*s33 - s13*s23)
           + s13 * (s12*s23 - s13*s22)) AS {c2}
"""


# Shared CTE chain: features -> step-1 solve -> re-score -> step-2 solve.
# `fin` carries (n, c0..c2 [step-1], d0..d2 [step-2 delta]); final
# coefficients are c_i + d_i. Reused by ml_logistic_newton and
# ml_calibration_bins so both oracles train the identical classifier.
_LOGISTIC_CTE_SQL = (
    r"""
    WITH d AS (
        SELECT n_chars / 100.0 AS x1,
               n_chars / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS x2,
               CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END AS z
        FROM documents WHERE source IN ('src0', 'src1')
    ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS s11,
               sum(x1) AS s12, sum(x2) AS s13,
               sum(x1*x1) AS s22, sum(x1*x2) AS s23, sum(x2*x2) AS s33,
               sum(z - 0.5) AS g1,
               sum(x1 * (z - 0.5)) AS g2,
               sum(x2 * (z - 0.5)) AS g3
        FROM d
    ), b1 AS (
        SELECT """
    + _LOGISTIC_SOLVE_SQL.format(scale="4.0", c0="c0", c1="c1", c2="c2")
    + r"""
        FROM s
    ), rows2 AS (
        SELECT d.x1, d.x2, d.z, b1.c0, b1.c1, b1.c2,
               1.0 / (1.0 + exp(-(c0 + c1*x1 + c2*x2))) AS p
        FROM d CROSS JOIN b1
    ), h AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               min(c0) AS c0, min(c1) AS c1, min(c2) AS c2,
               sum(p*(1.0-p)) AS s11,
               sum(p*(1.0-p) * x1) AS s12,
               sum(p*(1.0-p) * x2) AS s13,
               sum(p*(1.0-p) * x1*x1) AS s22,
               sum(p*(1.0-p) * x1*x2) AS s23,
               sum(p*(1.0-p) * x2*x2) AS s33,
               sum(z - p) AS g1,
               sum(x1 * (z - p)) AS g2,
               sum(x2 * (z - p)) AS g3
        FROM rows2
    ), fin AS (
        SELECT n, c0, c1, c2, """
    + _LOGISTIC_SOLVE_SQL.format(scale="1.0", c0="d0", c1="d1", c2="d2")
    + r"""
        FROM h
    )
"""
)


def _logistic_features(docs):
    """(x1, x2, z) feature rows for the src1-vs-src0 domain classifier,
    from any documents-shaped relation (batch table or micro-batch)."""
    return docs.filter(F.col("source").isin("src0", "src1")).select(
        (F.col("n_chars") / F.lit(100.0)).alias("x1"),
        (
            F.col("n_chars")
            / F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
        ).alias("x2"),
        F.when(F.col("source") == "src1", 1.0).otherwise(0.0).alias("z"),
    )


def _logistic_rows(spark, sf_dir):
    """(x1, x2, z) feature rows for the src1-vs-src0 domain classifier."""
    return _logistic_features(load_table(spark, sf_dir, "documents"))


def _solve3_sql(scale: str) -> tuple[str, str, str]:
    """The `_solve3` adjugate as Spark-SQL expression TEXT over columns
    s11..s33/g1..g3 — identical arithmetic and parenthesization, so the
    parsed expressions evaluate the same IEEE tree as the Column form.
    Built as strings because the Column construction of these ~60-op trees
    cost ~0.5 s of py4j round trips PER QUERY BUILD (the r13
    `stats_bootstrap_ci` finding, VERDICT r13 item 1: the ml grid family's
    per-sample cost was construction, not compute)."""
    det = (
        "(s11 * (s22*s33 - s23*s23) - s12 * (s12*s33 - s13*s23)"
        " + s13 * (s12*s23 - s13*s22))"
    )
    a0 = (
        "((s22*s33 - s23*s23) * g1 + (s13*s23 - s12*s33) * g2"
        " + (s12*s23 - s13*s22) * g3)"
    )
    a1 = (
        "((s13*s23 - s12*s33) * g1 + (s11*s33 - s13*s13) * g2"
        " + (s12*s13 - s11*s23) * g3)"
    )
    a2 = (
        "((s12*s23 - s13*s22) * g1 + (s12*s13 - s11*s23) * g2"
        " + (s11*s22 - s12*s12) * g3)"
    )
    return tuple(f"{scale} * {a} / {det}" for a in (a0, a1, a2))


def _logistic_coeffs(d):
    """One-row (n, w0, w1, w2) coefficient relation after two exact Newton
    steps — the Spark twin of `_LOGISTIC_CTE_SQL`'s `fin` (w_i = c_i+d_i,
    un-rounded).  Aggregates and the 3x3 adjugate solves are built as
    parsed expression strings (`0.5D`/`1.0D` = double literals, matching
    the old `F.lit` forms) — bit-identical trees, ~10x cheaper to
    construct (see `_solve3_sql`)."""
    s = d.agg(
        F.expr("CAST(count(*) AS DOUBLE)").alias("s11"),
        F.expr("sum(x1)").alias("s12"),
        F.expr("sum(x2)").alias("s13"),
        F.expr("sum(x1 * x1)").alias("s22"),
        F.expr("sum(x1 * x2)").alias("s23"),
        F.expr("sum(x2 * x2)").alias("s33"),
        F.expr("sum(z - 0.5D)").alias("g1"),
        F.expr("sum(x1 * (z - 0.5D))").alias("g2"),
        F.expr("sum(x2 * (z - 0.5D))").alias("g3"),
    )
    c0, c1, c2 = _solve3_sql("4.0D")
    b1 = s.selectExpr(f"{c0} AS c0", f"{c1} AS c1", f"{c2} AS c2")
    r2 = d.crossJoin(F.broadcast(b1)).withColumn(
        "p", F.expr("1.0D / (1.0D + exp(-(c0 + c1 * x1 + c2 * x2)))")
    )
    h = r2.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("min(c0)").alias("c0"),
        F.expr("min(c1)").alias("c1"),
        F.expr("min(c2)").alias("c2"),
        F.expr("sum(p * (1.0D - p))").alias("s11"),
        F.expr("sum(p * (1.0D - p) * x1)").alias("s12"),
        F.expr("sum(p * (1.0D - p) * x2)").alias("s13"),
        F.expr("sum(p * (1.0D - p) * x1 * x1)").alias("s22"),
        F.expr("sum(p * (1.0D - p) * x1 * x2)").alias("s23"),
        F.expr("sum(p * (1.0D - p) * x2 * x2)").alias("s33"),
        F.expr("sum(z - p)").alias("g1"),
        F.expr("sum(x1 * (z - p))").alias("g2"),
        F.expr("sum(x2 * (z - p))").alias("g3"),
    )
    d0, d1, d2 = _solve3_sql("1.0D")
    return h.selectExpr(
        "n",
        f"c0 + {d0} AS w0",
        f"c1 + {d1} AS w1",
        f"c2 + {d2} AS w2",
    )


@register(
    "ml_logistic_newton",
    oracle=_LOGISTIC_CTE_SQL
    + r"""
    SELECT n,
           floor((c0 + d0) * 100000 + 0.5) / 100000 AS w0,
           floor((c1 + d1) * 100000 + 0.5) / 100000 AS w1,
           floor((c2 + d2) * 100000 + 0.5) / 100000 AS w2
    FROM fin
    """,
    tags=("ml", "logistic", "newton", "classifier"),
)
def q_ml_logistic_newton(spark, sf_dir):
    """Domain-classifier training: logistic regression of source src1 vs
    src0 on (chars/100, mean word length) by TWO exact Newton-Raphson
    steps — the CCNet/quality-classifier pattern ("train a cheap linear
    classifier to tell reference corpus from crawl") executed entirely as
    DataFrame aggregates.

    Newton from b=0 has constant curvature (p=1/2, W=I/4), so step 1 is
    b <- 4 * (X'X)^-1 X'(z - 1/2); step 2 re-scores every row with b1
    (broadcast single-row coefficient relation, no shuffle), accumulates
    the weighted Gram X'WX and gradient X'(z - p), and applies the 3x3
    adjugate solve in closed form. Each step is ONE map-side-combined
    aggregation over the fact table — at 100 TB, 2 scans + 2 one-row
    broadcasts, no driver-side linear algebra, no MLlib iteration state.
    Both engines evaluate the identical IEEE expression tree; the one
    engine-order-dependent quantity (the Gram sums) is absorbed by the
    5-dp floor-half-up canonicalization (z_score convention)."""
    coeffs = _logistic_coeffs(_logistic_rows(spark, sf_dir))
    canon = lambda c: F.floor(c * 100000 + F.lit(0.5)) / 100000  # noqa: E731
    return coeffs.select(
        "n",
        canon(F.col("w0")).alias("w0"),
        canon(F.col("w1")).alias("w1"),
        canon(F.col("w2")).alias("w2"),
    )


@register(
    "ml_calibration_bins",
    oracle=_LOGISTIC_CTE_SQL
    + r"""
    , scored AS (
        SELECT d.z,
               1.0 / (1.0 + exp(-((c0 + d0) + (c1 + d1)*x1 + (c2 + d2)*x2))) AS p
        FROM d CROSS JOIN fin
    )
    SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_bin,
           floor((sum(p) / count(*)) * 1000000 + 0.5) / 1000000 AS mean_p,
           floor((sum(z) / count(*)) * 1000000 + 0.5) / 1000000 AS pos_rate
    FROM scored
    GROUP BY least(CAST(floor(p * 10) AS BIGINT), 9)
    """,
    tags=("ml", "calibration", "classifier"),
)
def q_ml_calibration_bins(spark, sf_dir):
    """Reliability diagram of the Newton domain classifier: score every
    document with the trained coefficients (third scan, 1-row broadcast),
    bin predicted probability into deciles, and compare mean predicted p
    to the observed positive rate per bin — the calibration audit every
    classifier-based quality/domain filter needs before its scores gate a
    corpus. Shares the exact training chain with `ml_logistic_newton`
    (`_logistic_coeffs` / `_LOGISTIC_CTE_SQL`), so the two queries are
    guaranteed to audit the same model. The bin id is floor(10p) capped at
    9; pos_rate is an exact count ratio."""
    d = _logistic_rows(spark, sf_dir)
    coeffs = _logistic_coeffs(d).select("w0", "w1", "w2")
    scored = d.crossJoin(F.broadcast(coeffs)).select(
        "z",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.col("w0")
                        + F.col("w1") * F.col("x1")
                        + F.col("w2") * F.col("x2")
                    )
                )
            )
        ).alias("p"),
    )
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10).cast("long"), F.lit(9).cast("long")).alias(
                "bin"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_bin"),
            canon(F.sum("p") / F.count("*")).alias("mean_p"),
            canon(F.sum("z") / F.count("*")).alias("pos_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval — deterministic, single-pass
# ---------------------------------------------------------------------------

_BOOT_B = 32
# Cumulative Poisson(1) CDF at k = 0..8: weight = #thresholds below u.
_POISSON_CUM = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
    0.9999989771044268,
]
_TWO61 = 2305843009213693952.0  # 2^61, exactly representable


def _boot_params():
    import random

    rng = random.Random(1105)
    return [(rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30)) for _ in range(_BOOT_B)]


_BOOT_PARAMS = _boot_params()


def _bootstrap_oracle() -> str:
    from ..functions.hashing import md5_60_sql, perm61_sql

    h60 = md5_60_sql("CAST(event_id AS VARCHAR)")
    wexprs = []
    for i, (a, b) in enumerate(_BOOT_PARAMS):
        u = f"({perm61_sql(a, b, 'h60')} / {_TWO61!r})"
        cases = " ".join(
            f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON_CUM)
        )
        wexprs.append(f"(CASE {cases} ELSE 9 END) AS w{i}")
    aggs = ", ".join(
        f"sum(w{i} * value) AS sv{i}, CAST(sum(w{i}) AS DOUBLE) AS sw{i}"
        for i in range(_BOOT_B)
    )
    means = ", ".join(f"sv{i} / sw{i}" for i in range(_BOOT_B))
    return f"""
    WITH h AS (
        SELECT value, {h60} AS h60 FROM events
    ), w AS (
        SELECT value, {', '.join(wexprs)} FROM h
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n, sum(value) AS sv, {aggs} FROM w
    ), m AS (
        SELECT n, sv / n AS mean, list_sort(list_value({means})) AS ms FROM s
    )
    SELECT n,
           floor(mean * 1000000 + 0.5) / 1000000 AS mean_value,
           floor(ms[4] * 1000000 + 0.5) / 1000000 AS boot_p10,
           floor(ms[29] * 1000000 + 0.5) / 1000000 AS boot_p90
    FROM m
    """


@register(
    "stats_bootstrap_ci",
    oracle=_bootstrap_oracle(),
    tags=("stats", "bootstrap", "resampling"),
)
def q_stats_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap CI for the mean of events.value: 32 deterministic
    replicates, each row's replicate-b multiplicity drawn as
    Poisson(1) = invCDF(u_b) with u_b = perm_b(md5_60(event_id)) / 2^61 —
    the 60-bit cross-engine hash family (functions/hashing.py), so both
    engines draw BIT-IDENTICAL integer weights.

    Scale shape — the reason Poisson bootstrap exists (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012): no
    resampled copies of the data. ONE scan computes all 64 weighted sums
    as map-side-combined aggregate expressions (no explode, no shuffle of
    row data, a 1-row result); replicate means and the nearest-rank
    p10/p90 band come from sorting the 32-element array driver-free. At
    100 TB this is exactly one pass more than computing the mean itself.
    The only engine-order-dependent step is double summation — absorbed by
    the 6-dp floor-half-up canonicalization; replicate means differ by
    O(1/sqrt(n)) so the sorted order itself is stable."""
    from ..functions.hashing import md5_60, perm61_sql

    # r13 (guide §2.1): spread the scan — the 32 per-row perm61 weight
    # chains are all codegen but ran at the scan's partition count.
    ev = ensure_min_partitions(load_table(spark, sf_dir, "events"))
    h = ev.select("value", md5_60(F.col("event_id").cast("string")).alias("h60"))

    def weight(i):
        # One F.expr per replicate instead of ~10 chained F.when Column
        # calls (r13, guide §7.3): the ~320 py4j round trips made DataFrame
        # CONSTRUCTION cost ~2 s per bench sample; the expression text is
        # the oracle's own perm61_sql/CASE chain, which Spark SQL parses
        # identically (A/B-checked bit-equal: same rows, 4.1 → 2.2 s).
        a, b = _BOOT_PARAMS[i]
        u = f"({perm61_sql(a, b, 'h60')} / {_TWO61!r})"
        chain = " ".join(
            f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON_CUM)
        )
        return F.expr(f"CASE {chain} ELSE 9 END")

    w = h.select("value", *[weight(i).alias(f"w{i}") for i in range(_BOOT_B)])
    aggs = [F.count("*").cast("long").alias("n"), F.sum("value").alias("sv")]
    for i in range(_BOOT_B):
        aggs.append(F.sum(F.col(f"w{i}") * F.col("value")).alias(f"sv{i}"))
        aggs.append(F.sum(f"w{i}").cast("double").alias(f"sw{i}"))
    s = w.agg(*aggs)
    ms = F.sort_array(
        F.array(*[F.col(f"sv{i}") / F.col(f"sw{i}") for i in range(_BOOT_B)])
    )
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        "n",
        canon(F.col("sv") / F.col("n")).alias("mean_value"),
        canon(F.element_at(ms, 4)).alias("boot_p10"),
        canon(F.element_at(ms, 29)).alias("boot_p90"),
    )


# ---------------------------------------------------------------------------
# Exact grouped quantiles from mergeable integer-cent value grids
# ---------------------------------------------------------------------------


def quantiles_from_type_grid(g):
    """Nearest-rank p50/p90/p99 (+ max) per event_type from a
    (event_type, v, cnt) integer-cent value grid — shared by the batch
    query and the streaming accumulator (streaming/quantile_stream.py).

    Count grids are MERGEABLE (grouped sums commute/associate), so a grid
    accumulated incrementally over micro-batches serves the EXACT batch
    quantiles of everything ingested — same argument as the KS/CMS state.
    The cumulative window partitions by event_type (parallel across
    groups); within a group the grid is |distinct cents| rows, not
    |ticks|."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "event_type", "v", "cnt", F.sum("cnt").over(w).cast("long").alias("cm")
    )
    tot = g.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    j = c.join(F.broadcast(tot), "event_type")

    def nearest(q):
        return F.min(
            F.when(F.col("cm") >= F.ceil(F.lit(q) * F.col("n")), F.col("v"))
        ).cast("long")

    return (
        j.groupBy("event_type", "n")
        .agg(
            nearest(0.5).alias("p50_cents"),
            nearest(0.9).alias("p90_cents"),
            nearest(0.99).alias("p99_cents"),
            F.max("v").cast("long").alias("max_cents"),
        )
        .select("event_type", "n", "p50_cents", "p90_cents", "p99_cents", "max_cents")
    )


@register(
    "events_value_quantiles_grid",
    oracle="""
    WITH g AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, CAST(round(value * 100) AS BIGINT)
    ), c AS (
        SELECT event_type, v, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
        FROM g
    ), tot AS (
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM g GROUP BY event_type
    )
    SELECT c.event_type, t.n,
           CAST(min(CASE WHEN c.cm >= ceil(0.5 * t.n) THEN c.v END) AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN c.cm >= ceil(0.9 * t.n) THEN c.v END) AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN c.cm >= ceil(0.99 * t.n) THEN c.v END) AS BIGINT) AS p99_cents,
           CAST(max(c.v) AS BIGINT) AS max_cents
    FROM c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.n
    """,
    tags=("events", "quantile", "grid", "mergeable"),
)
def q_events_value_quantiles_grid(spark, sf_dir):
    """Exact per-type nearest-rank value quantiles via the integer-cent
    grid — INTEGER-EXACT end-to-end (no interpolation, no fp), and the
    grid is the mergeable state the streaming accumulator
    (`QuantileStreamAccumulator`) persists per batch, so the streaming
    serve is bit-identical to this query over the same ticks. Complements
    `ts_quantiles` (exact interpolated, percentile sort) and
    `ts_quantiles_approx` (KLL sketch): at 100 TB the grid path costs one
    grouped count + a |grid|-row window, and bounded-cardinality domains
    (prices in cents) make |grid| ≪ |ticks|."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return quantiles_from_type_grid(g)


# ---------------------------------------------------------------------------
# Welch's t-test — the parametric member of the drift-gate suite
# ---------------------------------------------------------------------------


@register(
    "stats_welch_ttest",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents WHERE source IN ('src0', 'src1')
        GROUP BY CASE WHEN source = 'src0' THEN 0 ELSE 1 END
    ), w AS (
        SELECT a.n AS n_a, b.n AS n_b,
               a.sx / CAST(a.n AS DOUBLE) AS m_a,
               b.sx / CAST(b.n AS DOUBLE) AS m_b,
               (a.sxx - a.sx * (a.sx / CAST(a.n AS DOUBLE))) / (a.n - 1.0) AS v_a,
               (b.sxx - b.sx * (b.sx / CAST(b.n AS DOUBLE))) / (b.n - 1.0) AS v_b
        FROM s a JOIN s b ON a.grp = 0 AND b.grp = 1
    )
    SELECT n_a, n_b,
           floor(m_a * 1000000 + 0.5) / 1000000 AS mean_a,
           floor(m_b * 1000000 + 0.5) / 1000000 AS mean_b,
           floor(((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) * 1000000 + 0.5)
               / 1000000 AS t_stat,
           floor((((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b))
                  / ((v_a / n_a) * (v_a / n_a) / (n_a - 1.0)
                     + (v_b / n_b) * (v_b / n_b) / (n_b - 1.0)))
                 * 1000000 + 0.5) / 1000000 AS welch_df
    FROM w
    """,
    tags=("stats", "ttest", "drift"),
)
def q_stats_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test between src0's and src1's document
    lengths — the parametric mean-shift gate completing the drift suite
    (KS: any distribution change; Mann-Whitney: median/rank shift;
    chi-square: categorical mix; Welch: mean shift with a df that is
    honest under variance imbalance). INTEGER-EXACT accumulation: n, Σx,
    Σx² are BIGINTs (n_chars is integral), so both engines agree bit-wise
    until the fixed-shape mean/variance/t/df expressions — one scan, one
    2-row aggregate, canonicalized at 6 dp. The Welch-Satterthwaite df is
    the standard (v_a/n_a + v_b/n_b)² / Σ (v_g/n_g)²/(n_g-1)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    s = docs.groupBy(
        F.when(F.col("source") == "src0", 0).otherwise(1).alias("grp")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
    )
    a = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a")
    )
    b = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b")
    )
    j = a.crossJoin(F.broadcast(b))
    m_a = F.col("sx_a") / F.col("n_a").cast("double")
    m_b = F.col("sx_b") / F.col("n_b").cast("double")
    v_a = (F.col("sxx_a") - F.col("sx_a") * m_a) / (F.col("n_a") - F.lit(1.0))
    v_b = (F.col("sxx_b") - F.col("sx_b") * m_b) / (F.col("n_b") - F.lit(1.0))
    se2_a = v_a / F.col("n_a")
    se2_b = v_b / F.col("n_b")
    t = (m_a - m_b) / F.sqrt(se2_a + se2_b)
    df = ((se2_a + se2_b) * (se2_a + se2_b)) / (
        se2_a * se2_a / (F.col("n_a") - F.lit(1.0))
        + se2_b * se2_b / (F.col("n_b") - F.lit(1.0))
    )
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "n_a",
        "n_b",
        canon(m_a).alias("mean_a"),
        canon(m_b).alias("mean_b"),
        canon(t).alias("t_stat"),
        canon(df).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# n-gram novelty — how much of each doc is first-seen (arrival order)
# ---------------------------------------------------------------------------


@register(
    "text_ngram_novelty",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              FOR i IN range(1, len(w) - 1)]) AS grams
        FROM toks
    ), inv AS (
        SELECT doc_id, unnest(grams) AS gram FROM sh
    ), first_seen AS (
        SELECT gram, min(doc_id) AS first_doc FROM inv GROUP BY gram
    ), novel AS (
        SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_novel
        FROM inv i JOIN first_seen f ON f.gram = i.gram AND f.first_doc = i.doc_id
        GROUP BY i.doc_id
    ), base AS (
        SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams FROM sh
    )
    SELECT b.doc_id, b.n_grams,
           coalesce(n.n_novel, 0) AS n_novel,
           round(coalesce(n.n_novel, 0) / greatest(b.n_grams, 1), 6) AS novelty
    FROM base b LEFT JOIN novel n USING (doc_id)
    """,
    tags=("text", "novelty", "dedup"),
)
def q_text_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty in arrival (doc_id) order: the fraction
    of a document's distinct word 3-grams whose FIRST corpus occurrence is
    this document — the marginal-information score a curriculum / dedup
    pipeline uses to rank a crawl batch (novelty ≈ 1: new content;
    novelty ≈ 0: re-crawl / boilerplate; the sequential dual of
    `corpus_boilerplate_ngrams`' symmetric df view).

    Scale shape: one explode to the inverted index, one grouped min for
    first-occurrence, one equi-join back on (gram, first_doc = doc) — the
    min-aggregation replaces any notion of scanning docs in order, so the
    'sequential' semantics cost a single shuffle."""
    from .dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    # Materialized once: three differently-keyed consumers, no exchange
    # reuse (see corpus_boilerplate_ngrams). r13: spread before the
    # shingle HOF (single-partition scan otherwise) and EAGER — lazy
    # checkpoints with multiple broadcast-side consumers race and
    # recompute (the `jaccard_prefix_filter` measurement, guide §2.1/§1.2).
    sh = ensure_min_partitions(docs).select(
        "doc_id", shingles(F.col("text"), 3).alias("grams")
    ).localCheckpoint(eager=True)
    # 8-byte xxhash64 join keys instead of gram strings (the _jaccard_core
    # convention; collision odds ~|grams|²/2⁶⁴).
    inv = sh.select("doc_id", F.explode("grams").alias("_g")).select(
        "doc_id", F.xxhash64("_g").alias("gram")
    )
    first_seen = inv.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (
        inv.join(
            first_seen.select("gram", F.col("first_doc").alias("doc_id")),
            ["gram", "doc_id"],
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    base = sh.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
    nov = F.coalesce(F.col("n_novel"), F.lit(0))
    return base.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        nov.cast("long").alias("n_novel"),
        F.round(nov / F.greatest(F.col("n_grams"), F.lit(1)), 6).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Mutual information — dependence strength from the contingency grid
# ---------------------------------------------------------------------------


@register(
    "stats_mutual_info",
    oracle="""
    WITH c AS (
        SELECT event_type AS x,
               CASE WHEN hour(ts) < 6 THEN 'night' WHEN hour(ts) < 12 THEN 'morning'
                    WHEN hour(ts) < 18 THEN 'afternoon' ELSE 'evening' END AS y,
               CAST(count(*) AS BIGINT) AS nxy
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(sum(nxy) AS BIGINT) AS n FROM c
    ), mx AS (
        SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM c GROUP BY x
    ), my AS (
        SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM c GROUP BY y
    ), mi AS (
        SELECT sum((c.nxy / CAST(t.n AS DOUBLE))
                   * ln((CAST(c.nxy AS DOUBLE) * t.n)
                        / (CAST(mx.nx AS DOUBLE) * my.ny))) AS mi_nats,
               min(t.n) AS n,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM c JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot t
    ), hx AS (
        SELECT -sum((nx / CAST(t.n AS DOUBLE)) * ln(nx / CAST(t.n AS DOUBLE))) AS h
        FROM mx CROSS JOIN tot t
    ), hy AS (
        SELECT -sum((ny / CAST(t.n AS DOUBLE)) * ln(ny / CAST(t.n AS DOUBLE))) AS h
        FROM my CROSS JOIN tot t
    )
    SELECT mi.n, mi.n_cells,
           floor(mi.mi_nats * 1000000 + 0.5) / 1000000 AS mi_nats,
           floor((mi.mi_nats / sqrt(hx.h * hy.h)) * 1000000 + 0.5) / 1000000
               AS nmi
    FROM mi, hx, hy
    """,
    tags=("stats", "entropy", "dependence"),
)
def q_stats_mutual_info(spark, sf_dir):
    """Mutual information (and sqrt-normalized NMI) between event type and
    day-part — the dependence-STRENGTH companion to
    `stats_chi_square_contingency`'s significance test (chi-square grows
    with n even for trivial dependence; MI answers "how many nats does
    knowing the day-part tell you about the event type"). Everything
    reduces to the |types|x4 contingency grid in ONE pass; marginals are
    grid-sized grouped sums, the ln() hits exact integer-count ratios, and
    the result is floor-canonicalized at 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    h = F.hour("ts")
    c = ev.groupBy(
        F.col("event_type").alias("x"),
        F.when(h < 6, "night")
        .when(h < 12, "morning")
        .when(h < 18, "afternoon")
        .otherwise("evening")
        .alias("y"),
    ).agg(F.count("*").cast("long").alias("nxy"))
    tot = c.agg(F.sum("nxy").cast("long").alias("n"))
    mx = c.groupBy("x").agg(F.sum("nxy").cast("long").alias("nx"))
    my = c.groupBy("y").agg(F.sum("nxy").cast("long").alias("ny"))
    nd = F.col("n").cast("double")
    mi = (
        c.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("nxy") / nd)
                * F.log(
                    (F.col("nxy").cast("double") * F.col("n"))
                    / (F.col("nx").cast("double") * F.col("ny"))
                )
            ).alias("mi_nats"),
            F.min("n").alias("n"),
            F.count("*").cast("long").alias("n_cells"),
        )
    )
    hx = (
        mx.crossJoin(F.broadcast(tot))
        .agg((-F.sum((F.col("nx") / nd) * F.log(F.col("nx") / nd))).alias("h"))
    )
    hy = (
        my.crossJoin(F.broadcast(tot))
        .agg((-F.sum((F.col("ny") / nd) * F.log(F.col("ny") / nd))).alias("h"))
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        mi.crossJoin(F.broadcast(hx.select(F.col("h").alias("hx"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("hy"))))
        .select(
            "n",
            "n_cells",
            canon(F.col("mi_nats")).alias("mi_nats"),
            canon(F.col("mi_nats") / F.sqrt(F.col("hx") * F.col("hy"))).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation — grid-threshold quartiles, no global sort
# ---------------------------------------------------------------------------


@register(
    "orders_rfm_segments",
    oracle="""
    WITH gmax AS (
        SELECT max(o_orderdate) AS gd FROM orders
    ), cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', max(o_orderdate), (SELECT gd FROM gmax)) AS BIGINT)
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS nn FROM cust
    ),
    gr AS (SELECT recency_days AS v, count(*) AS c FROM cust GROUP BY 1),
    cr AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cm FROM gr),
    tr AS (SELECT min(CASE WHEN cm >= ceil(0.25 * nn) THEN v END) AS t1,
                  min(CASE WHEN cm >= ceil(0.5  * nn) THEN v END) AS t2,
                  min(CASE WHEN cm >= ceil(0.75 * nn) THEN v END) AS t3
           FROM cr, n),
    gf AS (SELECT frequency AS v, count(*) AS c FROM cust GROUP BY 1),
    cf AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cm FROM gf),
    tf AS (SELECT min(CASE WHEN cm >= ceil(0.25 * nn) THEN v END) AS t1,
                  min(CASE WHEN cm >= ceil(0.5  * nn) THEN v END) AS t2,
                  min(CASE WHEN cm >= ceil(0.75 * nn) THEN v END) AS t3
           FROM cf, n),
    gm AS (SELECT monetary_cents AS v, count(*) AS c FROM cust GROUP BY 1),
    cm2 AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cm FROM gm),
    tm AS (SELECT min(CASE WHEN cm >= ceil(0.25 * nn) THEN v END) AS t1,
                  min(CASE WHEN cm >= ceil(0.5  * nn) THEN v END) AS t2,
                  min(CASE WHEN cm >= ceil(0.75 * nn) THEN v END) AS t3
           FROM cm2, n)
    SELECT c.o_custkey, c.recency_days, c.frequency, c.monetary_cents,
           CAST(1 + (c.recency_days > tr.t1)::INT + (c.recency_days > tr.t2)::INT
                  + (c.recency_days > tr.t3)::INT AS BIGINT) AS r_q,
           CAST(1 + (c.frequency > tf.t1)::INT + (c.frequency > tf.t2)::INT
                  + (c.frequency > tf.t3)::INT AS BIGINT) AS f_q,
           CAST(1 + (c.monetary_cents > tm.t1)::INT + (c.monetary_cents > tm.t2)::INT
                  + (c.monetary_cents > tm.t3)::INT AS BIGINT) AS m_q
    FROM cust c, tr, tf, tm
    """,
    tags=("stats", "rfm", "segmentation"),
)
def q_orders_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per-customer recency (days since last
    order vs the corpus max date), frequency (order count) and monetary
    (lifetime cents), each quartile-scored 1-4 against exact nearest-rank
    thresholds — the standard audience-segmentation scan.

    Scale shape: one grouped agg to the customer relation, then each
    metric's quartile thresholds come from `grid_cumsum` over its
    distinct-value grid (the monetary grid is ~|customers| rows —
    unbounded — exactly why the range-partitioned cumsum exists; a
    `ntile(4)` window here would be a single-task global sort). Scoring
    is three broadcast 1-row threshold joins. Integer-exact end to end."""
    o = load_table(spark, sf_dir, "orders")
    gmax = o.agg(F.max("o_orderdate").alias("gd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("md"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "o_custkey",
            F.datediff("gd", "md").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        .localCheckpoint(eager=False)  # feeds 3 grids + the final scoring
    )
    tot = cust.agg(F.count("*").cast("long").alias("nn"))

    def thresholds(col, pfx):
        g = cust.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("long").alias("cnt")
        )
        c = grid_cumsum(g, ["cnt"])
        j = c.crossJoin(F.broadcast(tot))
        return j.agg(
            *[
                F.min(
                    F.when(
                        F.col("cum_cnt") >= F.ceil(F.lit(q) * F.col("nn")), F.col("v")
                    )
                ).alias(f"{pfx}{i}")
                for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
            ]
        )

    out = (
        cust.crossJoin(F.broadcast(thresholds("recency_days", "tr")))
        .crossJoin(F.broadcast(thresholds("frequency", "tf")))
        .crossJoin(F.broadcast(thresholds("monetary_cents", "tm")))
    )

    def score(col, pfx):
        return (
            F.lit(1)
            + (F.col(col) > F.col(f"{pfx}1")).cast("int")
            + (F.col(col) > F.col(f"{pfx}2")).cast("int")
            + (F.col(col) > F.col(f"{pfx}3")).cast("int")
        ).cast("long")

    return out.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        score("recency_days", "tr").alias("r_q"),
        score("frequency", "tf").alias("f_q"),
        score("monetary_cents", "tm").alias("m_q"),
    )


# ---------------------------------------------------------------------------
# Poisson burst detection — daily rate anomalies per key
# ---------------------------------------------------------------------------


@register(
    "events_poisson_burst",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS span_days
        FROM daily GROUP BY user_id
    )
    SELECT d.user_id, strftime(d.d, '%Y-%m-%d') AS day, d.c,
           floor((s.total / CAST(s.span_days AS DOUBLE)) * 1000000 + 0.5)
               / 1000000 AS lambda_day,
           floor(((d.c - s.total / CAST(s.span_days AS DOUBLE))
                  / sqrt(s.total / CAST(s.span_days AS DOUBLE))) * 1000000 + 0.5)
               / 1000000 AS z,
           ((d.c - s.total / CAST(s.span_days AS DOUBLE))
            / sqrt(s.total / CAST(s.span_days AS DOUBLE))) > 3.0 AS is_burst
    FROM daily d JOIN span s USING (user_id)
    """,
    tags=("events", "anomaly", "poisson", "rate"),
)
def q_events_poisson_burst(spark, sf_dir):
    """Per-key daily burst detection under a Poisson rate model: each
    (user, day) count is scored z = (c - λ)/sqrt(λ) against the user's own
    average daily rate λ = total/span — the scraper-health / bot-traffic
    gate that complements `events_inter_arrival_stats`' gap view with a
    rate view. Two grouped aggregations (day grid, per-key totals) + one
    key join; λ is a ratio of exact BIGINTs so both engines agree to the
    6-dp floor canonicalization."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("c"))
    span = daily.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("total"),
        (F.datediff(F.max("d"), F.min("d")) + 1).cast("long").alias("span_days"),
    )
    j = daily.join(span, "user_id")
    lam = F.col("total") / F.col("span_days").cast("double")
    z = (F.col("c") - lam) / F.sqrt(lam)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "c",
        canon(lam).alias("lambda_day"),
        canon(z).alias("z"),
        (z > F.lit(3.0)).alias("is_burst"),
    )


# ---------------------------------------------------------------------------
# Population stability index — binned score-drift gate
# ---------------------------------------------------------------------------


@register(
    "stats_psi_drift",
    oracle="""
    WITH ref AS (
        SELECT n_chars AS v FROM documents WHERE source = 'src0'
    ), g AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c FROM ref GROUP BY v
    ), cum AS (
        SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cm
        FROM g
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS n0 FROM ref
    ), cuts AS (
        SELECT min(CASE WHEN cm >= ceil(0.25 * n0) THEN v END) AS t1,
               min(CASE WHEN cm >= ceil(0.5  * n0) THEN v END) AS t2,
               min(CASE WHEN cm >= ceil(0.75 * n0) THEN v END) AS t3
        FROM cum, t
    ), binned AS (
        SELECT CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS grp,
               1 + (n_chars > c.t1)::INT + (n_chars > c.t2)::INT
                 + (n_chars > c.t3)::INT AS bin
        FROM documents, cuts c WHERE source IN ('src0', 'src1')
    ), counts AS (
        SELECT bin,
               CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS c0,
               CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS c1
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1
        FROM counts
    )
    SELECT t.n0, t.n1,
           floor(sum(((c.c1 + 0.5) / (t.n1 + 2.0) - (c.c0 + 0.5) / (t.n0 + 2.0))
                     * ln(((c.c1 + 0.5) / (t.n1 + 2.0))
                          / ((c.c0 + 0.5) / (t.n0 + 2.0))))
                 * 1000000 + 0.5) / 1000000 AS psi,
           sum(((c.c1 + 0.5) / (t.n1 + 2.0) - (c.c0 + 0.5) / (t.n0 + 2.0))
               * ln(((c.c1 + 0.5) / (t.n1 + 2.0))
                    / ((c.c0 + 0.5) / (t.n0 + 2.0)))) > 0.2 AS drifted
    FROM counts c CROSS JOIN tot t
    GROUP BY t.n0, t.n1
    """,
    tags=("stats", "psi", "drift"),
)
def q_stats_psi_drift(spark, sf_dir):
    """Population Stability Index between src0 (reference) and src1
    (candidate) document-length distributions over quartile bins cut on
    the REFERENCE — the industry-standard binned score-drift gate (PSI >
    0.2 = act), complementing the exact-distribution KS / rank MW / mean
    Welch views. Bin cuts are exact nearest-rank quartiles from the
    reference's value grid (`grid_cumsum`); bin fractions are Laplace-
    smoothed ((c+1/2)/(n+2)) so empty candidate bins stay finite and both
    engines evaluate the identical expression. Reduces to the SAME
    (v, ca, cb) value grid as `stats_ks_drift`, so the streaming
    DriftStreamMonitor serves the exact statistic from its mergeable
    state (`psi_from_value_grid` is the shared core)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tagged = docs.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("a"),
        F.when(F.col("source") == "src1", 1).otherwise(0).alias("b"),
    )
    g = tagged.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"), F.sum("b").cast("long").alias("cb")
    )
    return psi_from_value_grid(g)


def psi_from_value_grid(g):
    """PSI from a (v, ca, cb) distinct-value count grid — the third
    statistic served from the drift monitor's mergeable state (beside
    `ks_from_value_grid` / `mann_whitney_from_value_grid`). Quartile cuts
    come from the reference (ca) cumulative counts; a v present only in
    the candidate side (ca = 0) can never be a cut (the cumulative count
    does not advance there), so the grid cuts equal the raw-row cuts
    exactly, and bin counts are grouped integer sums either way."""
    c = grid_cumsum(g, ["ca"])
    t = g.agg(F.sum("ca").cast("long").alias("n0r"))
    cuts = (
        c.crossJoin(F.broadcast(t))
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum_ca") >= F.ceil(F.lit(q) * F.col("n0r")), F.col("v")
                    )
                ).alias(f"t{i}")
                for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
            ]
        )
    )
    binned = g.crossJoin(F.broadcast(cuts)).select(
        (
            F.lit(1)
            + (F.col("v") > F.col("t1")).cast("int")
            + (F.col("v") > F.col("t2")).cast("int")
            + (F.col("v") > F.col("t3")).cast("int")
        ).alias("bin"),
        "ca",
        "cb",
    )
    counts = binned.groupBy("bin").agg(
        F.sum("ca").cast("long").alias("c0"), F.sum("cb").cast("long").alias("c1")
    )
    tot = counts.agg(
        F.sum("c0").cast("long").alias("n0"), F.sum("c1").cast("long").alias("n1")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p0 = (F.col("c0") + 0.5) / (F.col("n0") + 2.0)
    p1 = (F.col("c1") + 0.5) / (F.col("n1") + 2.0)
    term = (p1 - p0) * F.log(p1 / p0)
    return (
        j.groupBy("n0", "n1")
        .agg(
            (F.floor(F.sum(term) * 1000000 + F.lit(0.5)) / 1000000).alias("psi"),
            (F.sum(term) > F.lit(0.2)).alias("drifted"),
        )
    )


# ---------------------------------------------------------------------------
# Concentration analysis — Gini + top-decile share from the value grid
# ---------------------------------------------------------------------------


@register(
    "orders_revenue_concentration",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY o_custkey
    ), g AS (
        SELECT rev AS v, CAST(count(*) AS BIGINT) AS c FROM cust GROUP BY rev
    ), cum AS (
        SELECT v, c,
               CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) - c AS BIGINT) AS cb
        FROM g
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS tot
        FROM cust
    ), s AS (
        SELECT CAST(sum(v * (c * cb + c * (c + 1) / 2)) AS BIGINT) AS srank,
               CAST(sum(v * greatest(0, least(c,
                    (SELECT ceil(0.9 * n) FROM t)::BIGINT - cb))) AS BIGINT)
                   AS below90
        FROM cum
    )
    SELECT t.n, t.tot AS total_cents,
           floor((2.0 * s.srank / (CAST(t.n AS DOUBLE) * t.tot)
                  - (t.n + 1.0) / t.n) * 1000000 + 0.5) / 1000000 AS gini,
           floor((1.0 - s.below90 / CAST(t.tot AS DOUBLE)) * 1000000 + 0.5)
               / 1000000 AS top10_share
    FROM s, t
    """,
    tags=("stats", "concentration", "gini"),
)
def q_orders_revenue_concentration(spark, sf_dir):
    """Revenue concentration: exact Gini coefficient and top-decile share
    of per-customer lifetime revenue — the "how skewed is this key" scan
    that sizes salting and cap-per-contributor policies (the same math
    profiles token-frequency concentration in a corpus).

    INTEGER-EXACT via the value grid: for a revenue value v with count c
    and cumulative count-before cb, its customers occupy ranks cb+1..cb+c,
    so Σ rank·x = Σ v·(c·cb + c(c+1)/2) — all BIGINT; Gini =
    2Σrank·x/(n·Σx) − (n+1)/n in one fixed-shape expression. The
    top-decile share integrates the Lorenz curve below the ceil(0.9·n)
    rank cut with a per-group greatest/least clip — again exact. One
    grouped agg + the range-partitioned `grid_cumsum`; nothing sorts
    customers."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    g = cust.groupBy(F.col("rev").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    cum = grid_cumsum(g.withColumnRenamed("c", "cnt"), ["cnt"]).select(
        "v",
        F.col("cnt").alias("c"),
        (F.col("cum_cnt") - F.col("cnt")).cast("long").alias("cb"),
    )
    t = cust.agg(
        F.count("*").cast("long").alias("n"), F.sum("rev").cast("long").alias("tot")
    )
    j = cum.crossJoin(F.broadcast(t))
    r90 = F.ceil(F.lit(0.9) * F.col("n")).cast("long")
    s = j.groupBy("n", "tot").agg(
        F.sum(
            F.col("v") * (F.col("c") * F.col("cb") + F.col("c") * (F.col("c") + 1) / 2)
        )
        .cast("long")
        .alias("srank"),
        F.sum(
            F.col("v")
            * F.greatest(F.lit(0), F.least(F.col("c"), r90 - F.col("cb")))
        )
        .cast("long")
        .alias("below90"),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        F.col("tot").alias("total_cents"),
        canon(
            F.lit(2.0) * F.col("srank") / (nd * F.col("tot"))
            - (F.col("n") + F.lit(1.0)) / F.col("n")
        ).alias("gini"),
        canon(F.lit(1.0) - F.col("below90") / F.col("tot").cast("double")).alias(
            "top10_share"
        ),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence — symmetric, bounded distribution-drift gate (r5)
# ---------------------------------------------------------------------------


@register(
    "stats_js_divergence",
    oracle="""
    WITH t AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM events WHERE event_type IN ('click', 'purchase')
    ), g AS (
        SELECT v, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(b) AS BIGINT) AS cb
        FROM t GROUP BY v
    ), tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
               CAST(count(*) AS BIGINT) AS n_support
        FROM g
    ), terms AS (
        SELECT t.na, t.nb, t.n_support,
               CASE WHEN g.ca > 0 THEN
                   (g.ca / CAST(t.na AS DOUBLE))
                   * ln((g.ca / CAST(t.na AS DOUBLE))
                        / ((g.ca / CAST(t.na AS DOUBLE)
                            + g.cb / CAST(t.nb AS DOUBLE)) / 2))
               ELSE 0.0 END AS pa,
               CASE WHEN g.cb > 0 THEN
                   (g.cb / CAST(t.nb AS DOUBLE))
                   * ln((g.cb / CAST(t.nb AS DOUBLE))
                        / ((g.ca / CAST(t.na AS DOUBLE)
                            + g.cb / CAST(t.nb AS DOUBLE)) / 2))
               ELSE 0.0 END AS pb
        FROM g CROSS JOIN tot t
    )
    SELECT na AS n_a, nb AS n_b, n_support,
           floor((0.5 * sum(pa) + 0.5 * sum(pb)) * 1000000 + 0.5) / 1000000
               AS js_divergence
    FROM terms GROUP BY na, nb, n_support
    """,
    tags=("stats", "drift", "divergence"),
)
def q_stats_js_divergence(spark, sf_dir):
    """Jensen-Shannon divergence between the click and purchase `value`
    distributions — the symmetric, [0, ln 2]-bounded drift measure that
    (unlike KL) tolerates disjoint support, which is what a corpus/feature
    monitor actually needs when a new source introduces unseen values.

    Same scale shape as `stats_ks_drift`/`stats_psi_drift`: everything
    reduces to the integer-cents distinct-value grid in ONE grouped pass
    (grid rows = distinct cents, bounded); per-value JSD terms are a fixed
    IEEE expression; the only cross-engine hazard is the final sum order,
    canonicalized at 1e-6. Count grids are mergeable, so the streaming
    drift monitor can serve the exact batch statistic from its accumulated
    grid (drift_stream.py's mergeability argument applies verbatim)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("b"),
    )
    g = tagged.groupBy("v").agg(
        F.sum("a").cast("long").alias("ca"), F.sum("b").cast("long").alias("cb")
    )
    return jsd_from_value_grid(g)


def jsd_from_value_grid(g):
    """Jensen-Shannon divergence from a (v, ca, cb) distinct-value count
    grid — the shared core of `stats_js_divergence` and the streaming
    drift monitor's `serve_jsd` (count grids are mergeable, so the
    incrementally accumulated grid serves the EXACT batch statistic, the
    same argument as `ks_from_value_grid`)."""
    tot = g.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count("*").cast("long").alias("n_support"),
    )
    # JSD needs both distributions — no row on an empty side instead of an
    # ANSI divide-by-zero (hypothesis degenerate-grid audit)
    j = g.crossJoin(F.broadcast(tot)).filter((F.col("na") > 0) & (F.col("nb") > 0))
    p = F.col("ca") / F.col("na").cast("double")
    q = F.col("cb") / F.col("nb").cast("double")
    m = (p + q) / F.lit(2.0)
    terms = j.select(
        "na", "nb", "n_support",
        F.when(F.col("ca") > 0, p * F.log(p / m)).otherwise(F.lit(0.0)).alias("pa"),
        F.when(F.col("cb") > 0, q * F.log(q / m)).otherwise(F.lit(0.0)).alias("pb"),
    )
    jsd = F.lit(0.5) * F.sum("pa") + F.lit(0.5) * F.sum("pb")
    return terms.groupBy("na", "nb", "n_support").agg(
        (F.floor(jsd * 1000000 + F.lit(0.5)) / 1000000).alias("js_divergence")
    ).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "n_support",
        "js_divergence",
    )


# ---------------------------------------------------------------------------
# Kendall tau-b — integer-exact rank correlation on the per-key daily grid (r5)
# ---------------------------------------------------------------------------


@register(
    "stats_kendall_tau",
    oracle="""
    WITH vi AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ), daily AS (
        SELECT user_id, d, CAST(sum(v) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM vi GROUP BY user_id, d
    ), pairs AS (
        SELECT a.user_id,
               CASE WHEN a.s * b.n < b.s * a.n THEN 1 ELSE 0 END AS conc,
               CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.s * b.n = b.s * a.n THEN 1 ELSE 0 END AS tie
        FROM daily a JOIN daily b
          ON a.user_id = b.user_id AND a.d < b.d
    ), agg AS (
        SELECT user_id,
               CAST(sum(conc) AS BIGINT) AS concordant,
               CAST(sum(disc) AS BIGINT) AS discordant,
               CAST(sum(tie) AS BIGINT) AS ties_y,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY user_id
    )
    SELECT user_id, n_pairs, concordant, discordant, ties_y,
           floor((concordant - discordant)
                 / sqrt(CAST(n_pairs AS DOUBLE)
                        * CAST(n_pairs - ties_y AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS tau_b
    FROM agg WHERE n_pairs > ties_y
    """,
    tags=("stats", "rank", "robust", "timeseries"),
)
def q_stats_kendall_tau(spark, sf_dir):
    """Per-user Kendall tau-b between day index and the daily mean value —
    the rank-based monotone-trend test that complements `ts_theil_sen`
    (same daily grid, same quadratic-confined-per-key shape): tau answers
    "is the trend consistent", Sen answers "how steep".

    INTEGER-EXACT concordance: day-pair (d1<d2) means are compared by the
    cross-multiplied cents identity s1·n2 <=> s2·n1 (n>0), so concordant /
    discordant / tie counts are BIGINT on both engines with zero float
    divisions. Dates are strictly ordered within a key (no x-ties), so
    tau-b = (C−D)/sqrt(n0·(n0−T_y)) with n0 = pair count; the one IEEE
    sqrt+divide is floor-canonicalized at 1e-6. The pairwise self-join is
    partitioned by user_id on the pre-aggregated daily grid (tens of rows
    per key), never on raw ticks — one key-shuffle total."""
    ev = load_table(spark, sf_dir, "events")
    vi = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("user_id", "d").agg(
        F.sum("v").cast("long").alias("s"), F.count("*").cast("long").alias("n")
    )
    daily = daily.localCheckpoint(eager=False)
    a = daily.select(
        "user_id", F.col("d").alias("d1"), F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    b = daily.select(
        "user_id", F.col("d").alias("d2"), F.col("s").alias("s2"), F.col("n").alias("n2")
    )
    lhs = F.col("s1") * F.col("n2")
    rhs = F.col("s2") * F.col("n1")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "user_id",
            F.when(lhs < rhs, 1).otherwise(0).alias("conc"),
            F.when(lhs > rhs, 1).otherwise(0).alias("disc"),
            F.when(lhs == rhs, 1).otherwise(0).alias("tie"),
        )
    )
    agg = pairs.groupBy("user_id").agg(
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        F.sum("tie").cast("long").alias("ties_y"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    tau = (
        (F.col("concordant") - F.col("discordant"))
        / F.sqrt(
            F.col("n_pairs").cast("double")
            * (F.col("n_pairs") - F.col("ties_y")).cast("double")
        )
    )
    return agg.filter(F.col("n_pairs") > F.col("ties_y")).select(
        "user_id", "n_pairs", "concordant", "discordant", "ties_y",
        (F.floor(tau * 1000000 + F.lit(0.5)) / 1000000).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation — lead/lag discovery between two series (r5)
# ---------------------------------------------------------------------------


@register(
    "ts_cross_correlation",
    oracle="""
    WITH vi AS (
        SELECT event_type AS t,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
    ), daily AS (
        SELECT t, day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY t, day
    ), x AS (SELECT day AS dx, m AS mx FROM daily WHERE t = 'click'),
    y AS (SELECT day AS dy, m AS my FROM daily WHERE t = 'purchase'),
    lags AS (SELECT unnest(range(-5, 6)) AS lag),
    joined AS (
        SELECT l.lag, x.mx, y.my
        FROM x CROSS JOIN lags l JOIN y ON y.dy = x.dx + l.lag
    ), agg AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
               sum(mx) AS sx, sum(my) AS sy, sum(mx * my) AS sxy,
               sum(mx * mx) AS sxx, sum(my * my) AS syy
        FROM joined GROUP BY lag
    )
    SELECT CAST(lag AS BIGINT) AS lag, n_days,
           floor((n_days * sxy - sx * sy)
                 / sqrt((n_days * sxx - sx * sx) * (n_days * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000 AS xcorr
    FROM agg WHERE n_days >= 3
    """,
    tags=("stats", "timeseries", "correlation", "leadlag"),
)
def q_ts_cross_correlation(spark, sf_dir):
    """Lagged cross-correlation between the click and purchase daily-mean
    series at lags -5..+5 days — the lead/lag discovery scan ("does click
    volume value lead purchases?") that precedes any causal-feature claim
    in forecasting. Positive lag correlates today's clicks with purchases
    `lag` days LATER.

    Scale shape: raw ticks collapse to the per-type daily grid first (one
    grouped agg — the only pass over the data); the 11-row lag relation
    broadcasts onto the tiny grid and the per-lag Pearson terms are exact
    sums over the aligned join. Daily means use the exact-cents
    `sum/100n` convention; the one float formula per lag is
    floor-canonicalized at 1e-6."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    vi = ev.select(
        F.col("event_type").alias("t"),
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("t", "day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    daily = daily.localCheckpoint(eager=False)
    x = daily.filter(F.col("t") == "click").select(
        F.col("day").alias("dx"), F.col("m").alias("mx")
    )
    y = daily.filter(F.col("t") == "purchase").select(
        F.col("day").alias("dy"), F.col("m").alias("my")
    )
    lags = spark.range(-5, 6).select(F.col("id").cast("int").alias("lag"))
    joined = (
        x.crossJoin(F.broadcast(lags))
        .withColumn("dy", F.col("dx") + F.col("lag"))
        .join(y, "dy")
    )
    agg = joined.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("mx").alias("sx"), F.sum("my").alias("sy"),
        F.sum(F.col("mx") * F.col("my")).alias("sxy"),
        F.sum(F.col("mx") * F.col("mx")).alias("sxx"),
        F.sum(F.col("my") * F.col("my")).alias("syy"),
    )
    n = F.col("n_days")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.filter(n >= 3).select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        (F.floor(r * 1000000 + F.lit(0.5)) / 1000000).alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Granger-style lag regression — does series X help predict series Y? (r5)
# ---------------------------------------------------------------------------


@register(
    "ts_granger_lag_f",
    oracle="""
    WITH vi AS (
        SELECT event_type AS t,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
    ), daily AS (
        SELECT t, day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY t, day
    ), x AS (SELECT day, m AS mx FROM daily WHERE t = 'click'),
    y AS (SELECT day, m AS my FROM daily WHERE t = 'purchase'),
    rows_ AS (
        SELECT y1.my AS z, y0.my AS u, x0.mx AS w
        FROM y y1
        JOIN y y0 ON y0.day = y1.day - 1
        JOIN x x0 ON x0.day = y1.day - 1
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(u) AS su, sum(w) AS sw, sum(z) AS sz,
               sum(u * u) AS suu, sum(w * w) AS sww, sum(z * z) AS szz,
               sum(u * w) AS suw, sum(u * z) AS suz, sum(w * z) AS swz
        FROM rows_
    ), c AS (
        SELECT n,
               suu - su * su / n AS cuu, sww - sw * sw / n AS cww,
               szz - sz * sz / n AS czz, suw - su * sw / n AS cuw,
               suz - su * sz / n AS cuz, swz - sw * sz / n AS cwz
        FROM s
    ), fit AS (
        SELECT n, czz - cuz * cuz / cuu AS rss_r,
               czz - ((cuz * cww - cwz * cuw) * cuz
                      + (cwz * cuu - cuz * cuw) * cwz)
                     / (cuu * cww - cuw * cuw) AS rss_f
        FROM c
    )
    SELECT n,
           floor(rss_r * 1000000 + 0.5) / 1000000 AS rss_restricted,
           floor(rss_f * 1000000 + 0.5) / 1000000 AS rss_full,
           CASE WHEN rss_f > 0 THEN
               floor((rss_r - rss_f) / (rss_f / (n - 3)) * 1000000 + 0.5) / 1000000
           END AS f_stat
    FROM fit
    """,
    tags=("stats", "timeseries", "causality", "regression"),
)
def q_ts_granger_lag_f(spark, sf_dir):
    """Granger-style lag test (order 1): does yesterday's click level add
    predictive power for today's purchase level beyond purchases' own
    lag? F-statistic comparing the restricted AR(1) fit against the full
    fit with the exogenous lag — the causal-screening companion to
    `ts_cross_correlation` (correlation finds the lag; this asks whether
    it survives the autoregressive control).

    Both OLS fits come CLOSED-FORM from one pass of raw sums over the
    aligned daily grid (n, Σu, Σw, Σz and the 6 second moments), solved
    via 2x2 centered normal equations — no iteration, no driver math, and
    the identical fixed-shape IEEE expression tree on both engines
    (floor-canon 1e-6). Scale shape is `ts_cross_correlation`'s: one
    grouped agg over the ticks builds the grids; everything after runs on
    days-sized relations."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    vi = ev.select(
        F.col("event_type").alias("t"),
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("t", "day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    daily = daily.localCheckpoint(eager=False)
    x = daily.filter(F.col("t") == "click").select("day", F.col("m").alias("mx"))
    y = daily.filter(F.col("t") == "purchase").select("day", F.col("m").alias("my"))
    y1 = y.select(F.col("day").alias("d"), F.col("my").alias("z"))
    y0 = y.select((F.col("day") + 1).alias("d"), F.col("my").alias("u"))
    x0 = x.select((F.col("day") + 1).alias("d"), F.col("mx").alias("w"))
    rows = y1.join(y0, "d").join(x0, "d")
    s = rows.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("u").alias("su"), F.sum("w").alias("sw"), F.sum("z").alias("sz"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("u") * F.col("w")).alias("suw"),
        F.sum(F.col("u") * F.col("z")).alias("suz"),
        F.sum(F.col("w") * F.col("z")).alias("swz"),
    )
    n = F.col("n")
    c = s.select(
        "n",
        (F.col("suu") - F.col("su") * F.col("su") / n).alias("cuu"),
        (F.col("sww") - F.col("sw") * F.col("sw") / n).alias("cww"),
        (F.col("szz") - F.col("sz") * F.col("sz") / n).alias("czz"),
        (F.col("suw") - F.col("su") * F.col("sw") / n).alias("cuw"),
        (F.col("suz") - F.col("su") * F.col("sz") / n).alias("cuz"),
        (F.col("swz") - F.col("sw") * F.col("sz") / n).alias("cwz"),
    )
    # keep the expression tree IDENTICAL to the oracle SQL (numerators
    # dotted first, ONE division by det) so both engines run the same
    # IEEE operation sequence
    det = F.col("cuu") * F.col("cww") - F.col("cuw") * F.col("cuw")
    num_b = F.col("cuz") * F.col("cww") - F.col("cwz") * F.col("cuw")
    num_c = F.col("cwz") * F.col("cuu") - F.col("cuz") * F.col("cuw")
    fit = c.select(
        "n",
        (F.col("czz") - F.col("cuz") * F.col("cuz") / F.col("cuu")).alias("rss_r"),
        (
            F.col("czz")
            - (num_b * F.col("cuz") + num_c * F.col("cwz")) / det
        ).alias("rss_f"),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return fit.select(
        "n",
        canon(F.col("rss_r")).alias("rss_restricted"),
        canon(F.col("rss_f")).alias("rss_full"),
        # rss_f == 0 (exact functional dependence) -> F undefined, emit
        # NULL instead of an ANSI divide-by-zero on both engines
        F.when(
            F.col("rss_f") > 0,
            canon(
                (F.col("rss_r") - F.col("rss_f"))
                / (F.col("rss_f") / (F.col("n") - 3))
            ),
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Learning curve — forecast error vs training-window size (r5)
# ---------------------------------------------------------------------------


@register(
    "ml_learning_curve",
    oracle="""
    WITH vi AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ), daily AS (
        SELECT user_id, day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY user_id, day
    ), bounds AS (
        SELECT CAST(min(day) AS BIGINT) AS lo,
               CAST(max(day) - 7 AS BIGINT) AS ts_start
        FROM daily
    ), fr AS (SELECT unnest([20, 40, 60, 80, 100]) AS pct),
    train AS (
        SELECT f.pct, d.user_id, avg(d.m) AS mean_m,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily d CROSS JOIN bounds b CROSS JOIN fr f
        WHERE d.day <= b.ts_start
          AND d.day > b.ts_start - CAST(floor(f.pct * (b.ts_start - b.lo + 1)
                                               / 100.0) AS BIGINT)
        GROUP BY f.pct, d.user_id
    ), tot AS (
        SELECT pct, CAST(sum(n_days) AS BIGINT) AS n_train_days
        FROM train GROUP BY pct
    ), test AS (
        SELECT d.user_id, d.m FROM daily d CROSS JOIN bounds b
        WHERE d.day > b.ts_start
    ), err AS (
        SELECT t.pct, CAST(count(*) AS BIGINT) AS n_test_points,
               floor(sqrt(avg((e.m - t.mean_m) * (e.m - t.mean_m)))
                     * 1000000 + 0.5) / 1000000 AS rmse
        FROM test e JOIN train t ON t.user_id = e.user_id
        GROUP BY t.pct
    )
    SELECT CAST(err.pct AS BIGINT) AS fraction_pct, tot.n_train_days,
           err.n_test_points, err.rmse
    FROM err JOIN tot ON tot.pct = err.pct
    """,
    tags=("ml", "evaluation", "learning-curve"),
)
def q_ml_learning_curve(spark, sf_dir):
    """Learning curve of the per-user mean-level forecaster: hold out the
    last 30 days, then train on the most recent 20/40/60/80/100% of the
    remaining history and report held-out RMSE per training fraction —
    the sample-efficiency audit (does more history still buy accuracy?)
    that decides data-retention and retrain-window policy, the same
    question scaling-law fits answer for pretraining corpora.

    All window arithmetic is integer epoch-day math (exact on both
    engines); the 5-row fraction relation broadcasts onto the per-user
    daily grid, so the 5 training variants come from ONE pass over the
    grid (a grouped agg per (fraction, user)), not 5 scans of the ticks;
    the final RMSE is the only canonicalized float."""
    ev = load_table(spark, sf_dir, "events")
    vi = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("user_id", "day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    daily = daily.localCheckpoint(eager=False)
    bounds = daily.agg(
        F.min("day").cast("long").alias("lo"),
        # the synthetic events table spans ~30 distinct days: hold out the
        # final week, learn from growing suffixes of the preceding span
        (F.max("day") - 7).cast("long").alias("ts_start"),
    )
    fr = spark.range(1, 6).select((F.col("id") * 20).cast("int").alias("pct"))
    span = F.col("ts_start") - F.col("lo") + 1
    cutoff = F.col("ts_start") - F.floor(F.col("pct") * span / F.lit(100.0)).cast("long")
    train = (
        daily.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(fr))
        .filter((F.col("day") <= F.col("ts_start")) & (F.col("day") > cutoff))
        .groupBy("pct", "user_id")
        .agg(F.avg("m").alias("mean_m"), F.count("*").cast("long").alias("n_days"))
    )
    test = (
        daily.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") > F.col("ts_start"))
        .select("user_id", "m")
    )
    tot = train.groupBy("pct").agg(
        F.sum("n_days").cast("long").alias("n_train_days")
    )
    err2 = (F.col("m") - F.col("mean_m")) * (F.col("m") - F.col("mean_m"))
    err = (
        test.join(train, "user_id")
        .groupBy("pct")
        .agg(
            F.count("*").cast("long").alias("n_test_points"),
            (F.floor(F.sqrt(F.avg(err2)) * 1000000 + F.lit(0.5)) / 1000000).alias("rmse"),
        )
    )
    return err.join(tot, "pct").select(
        F.col("pct").cast("long").alias("fraction_pct"),
        "n_train_days",
        "n_test_points",
        "rmse",
    )


# ---------------------------------------------------------------------------
# Chatterjee's xi — modern rank-based dependence measure (r5)
# ---------------------------------------------------------------------------


@register(
    "stats_xi_correlation",
    oracle="""
    WITH vi AS (
        SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ), daily AS (
        SELECT user_id, day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY user_id, day
    ), rk AS (
        SELECT user_id, day,
               CAST(row_number() OVER (PARTITION BY user_id
                    ORDER BY m, day) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM daily
    ), dif AS (
        SELECT user_id, n,
               abs(r - lag(r) OVER (PARTITION BY user_id ORDER BY day)) AS d
        FROM rk
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_days,
           CAST(sum(d) AS BIGINT) AS sum_rank_jumps,
           floor((1.0 - 3.0 * sum(d) / (max(n) * max(n) - 1.0)) * 1000000 + 0.5)
               / 1000000 AS xi
    FROM dif WHERE d IS NOT NULL
    GROUP BY user_id HAVING max(n) > 2
    """,
    tags=("stats", "rank", "dependence", "timeseries"),
)
def q_stats_xi_correlation(spark, sf_dir):
    """Chatterjee's xi dependence coefficient (2020) between day and the
    daily mean, per user: xi = 1 − 3·Σ|r_{i+1} − r_i|/(n²−1) with y-ranks
    walked in x (time) order — unlike Pearson/Spearman/Kendall it detects
    ANY functional dependence (oscillating seasonality scores high where
    tau ~ 0), converging to 0 for independence and 1 for y = f(x). The
    modern screen to run beside `stats_kendall_tau`.

    Ranks come from one per-key window over the daily grid (ties broken
    by day on both engines, the practical tied-variant convention); the
    rank-jump sum is pure integers; one IEEE expression at the end,
    canon 1e-6. Same single key-shuffle shape as the tau/Sen family."""
    ev = load_table(spark, sf_dir, "events")
    vi = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("user_id", "day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    wy = Window.partitionBy("user_id").orderBy("m", "day")
    wn = Window.partitionBy("user_id")
    wx = Window.partitionBy("user_id").orderBy("day")
    rk = daily.select(
        "user_id", "day",
        F.row_number().over(wy).cast("long").alias("r"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    dif = rk.select(
        "user_id", "n",
        F.abs(F.col("r") - F.lag("r").over(wx)).alias("d"),
    ).filter(F.col("d").isNotNull())
    n = F.max("n")
    return (
        dif.groupBy("user_id")
        .agg(
            n.cast("long").alias("n_days"),
            F.sum("d").cast("long").alias("sum_rank_jumps"),
            (
                F.floor(
                    (F.lit(1.0) - F.lit(3.0) * F.sum("d") / (n * n - F.lit(1.0)))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("xi"),
        )
        .filter(F.col("n_days") > 2)
    )


# ---------------------------------------------------------------------------
# Price elasticity — log-log demand regression per brand (r5)
# ---------------------------------------------------------------------------


@register(
    "orders_price_elasticity",
    oracle="""
    WITH obs AS (
        SELECT p.p_brand,
               ln(l.l_quantity) AS lq,
               ln(l.l_extendedprice / l.l_quantity) AS lp
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(lq, lp), 6) AS elasticity,
           round(regr_r2(lq, lp), 6) AS r2,
           round(regr_intercept(lq, lp), 6) AS log_intercept
    FROM obs GROUP BY p_brand
    """,
    tags=("stats", "regression", "pricing"),
)
def q_orders_price_elasticity(spark, sf_dir):
    """Per-brand price elasticity of demand: OLS slope of ln(quantity) on
    ln(unit price) — the log-log demand curve whose slope IS the
    elasticity, straight from the `regr_*` aggregate family (the same
    closed-form machinery as `stats_linear_trend`). One broadcast join of
    the part dimension onto lineitem, one grouped aggregate; nothing else
    moves."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    obs = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.log("l_quantity").alias("lq"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("lp"),
    )
    return obs.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.regr_slope("lq", "lp"), 6).alias("elasticity"),
        F.round(F.regr_r2("lq", "lp"), 6).alias("r2"),
        F.round(F.regr_intercept("lq", "lp"), 6).alias("log_intercept"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator — how heavy is the heavy tail? (r5)
# ---------------------------------------------------------------------------


@register(
    "stats_hill_tail_index",
    oracle="""
    WITH ranked AS (
        SELECT o_totalprice AS x,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ), kth AS (
        SELECT x AS xk FROM ranked WHERE rnk = 101
    )
    SELECT CAST(100 AS BIGINT) AS k,
           floor(avg(ln(r.x / k2.xk)) * 1000000 + 0.5) / 1000000 AS hill_h,
           floor(1.0 / avg(ln(r.x / k2.xk)) * 1000000 + 0.5) / 1000000
               AS tail_alpha,
           floor(max(r.x) * 100 + 0.5) / 100 AS x_max,
           floor(k2.xk * 100 + 0.5) / 100 AS x_k
    FROM ranked r CROSS JOIN kth k2
    WHERE r.rnk <= 100
    GROUP BY k2.xk
    """,
    tags=("stats", "tail", "heavytail", "risk"),
)
def q_stats_hill_tail_index(spark, sf_dir):
    """Hill estimator of the order-value tail index over the top-100 order
    statistics: H = mean ln(x_(i)/x_(k+1)), alpha = 1/H — the standard
    "is this distribution power-law and how heavy" diagnostic that
    decides whether mean-based capacity planning is even meaningful
    (alpha <= 2: infinite variance) and that sizes the salting needed for
    skewed keys.

    The global sort is a top-(k+1) TakeOrdered (deterministic orderkey
    tie-break), never a full sort; the estimator is one aggregate over
    k rows against the broadcast (k+1)-th statistic. Canon 1e-6."""
    orders = load_table(spark, sf_dir, "orders")
    # TakeOrdered: orderBy+limit compiles to distributed partial top-k per
    # partition + a k-row merge — NOT a global single-task window sort;
    # the rank window below runs over the 101 surviving rows only
    top = (
        orders.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.desc("x"), F.asc("o_orderkey"))
        .limit(101)
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy(F.desc("x"), F.asc("o_orderkey"))
    ranked = top.withColumn("rnk", F.row_number().over(w))
    kth = ranked.filter(F.col("rnk") == 101).select(F.col("x").alias("xk"))
    top = ranked.filter(F.col("rnk") <= 100)
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    h = F.avg(F.log(F.col("x") / F.col("xk")))
    return (
        top.crossJoin(F.broadcast(kth))
        .groupBy("xk")
        .agg(
            F.lit(100).cast("long").alias("k"),
            canon(h).alias("hill_h"),
            canon(F.lit(1.0) / h).alias("tail_alpha"),
            (F.floor(F.max("x") * 100 + F.lit(0.5)) / 100).alias("x_max"),
            (F.floor(F.col("xk") * 100 + F.lit(0.5)) / 100).alias("x_k"),
        )
        .select("k", "hill_h", "tail_alpha", "x_max", "x_k")
    )


# ---------------------------------------------------------------------------
# Order fulfillment cycle — operational latency percentiles (r5)
# ---------------------------------------------------------------------------


@register(
    "orders_fulfillment_cycle",
    oracle="""
    WITH cyc AS (
        SELECT o.o_orderpriority,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              max(CAST(l.l_shipdate AS DATE))) AS BIGINT) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    ), g AS (
        SELECT o_orderpriority, days, CAST(count(*) AS BIGINT) AS c
        FROM cyc GROUP BY o_orderpriority, days
    ), cum AS (
        SELECT o_orderpriority, days, c,
               CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cm,
               CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
        FROM g
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(min(CASE WHEN cm >= ceil(0.5 * n) THEN days END) AS BIGINT)
               AS p50_days,
           CAST(min(CASE WHEN cm >= ceil(0.9 * n) THEN days END) AS BIGINT)
               AS p90_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM cum GROUP BY o_orderpriority
    """,
    tags=("orders", "operational", "quantile"),
)
def q_orders_fulfillment_cycle(spark, sf_dir):
    """Order fulfillment cycle time (order date → LAST line shipped) with
    exact nearest-rank P50/P90 per order priority — the operational-
    latency SLA readout. Per-order cycle is one grouped max over the
    order join; the percentiles come from the bounded (priority, days)
    count grid exactly like `events_value_quantiles_grid` — integer days,
    full value-hash oracle, no canon."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cyc = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(
                F.max(F.col("l_shipdate").cast("date")),
                F.col("o_orderdate").cast("date"),
            ).cast("long").alias("days")
        )
    )
    g = cyc.groupBy("o_orderpriority", "days").agg(
        F.count("*").cast("long").alias("c")
    )
    wcum = (
        Window.partitionBy("o_orderpriority").orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("o_orderpriority")
    cum = g.select(
        "o_orderpriority", "days", "c",
        F.sum("c").over(wcum).cast("long").alias("cm"),
        F.sum("c").over(wn).cast("long").alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(F.col("cm") >= F.ceil(F.lit(q) * F.col("n")), F.col("days"))
    ).cast("long")
    return cum.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        pick(0.5).alias("p50_days"),
        pick(0.9).alias("p90_days"),
        F.max("days").cast("long").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Split-conformal forecast intervals — distribution-free coverage (r5)
# ---------------------------------------------------------------------------


@register(
    "ml_conformal_forecast",
    oracle="""
    WITH vi AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
    ), daily AS (
        SELECT user_id, day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY user_id, day
    ), bounds AS (
        SELECT CAST(max(day) - 14 AS BIGINT) AS cal_start,
               CAST(max(day) - 7 AS BIGINT) AS test_start
        FROM daily
    ), model AS (
        SELECT d.user_id, avg(d.m) AS mu
        FROM daily d CROSS JOIN bounds b
        WHERE d.day <= b.cal_start GROUP BY d.user_id
    ), cal AS (
        SELECT CAST(floor(abs(d.m - mo.mu) * 100 + 0.5) AS BIGINT) AS rc
        FROM daily d CROSS JOIN bounds b JOIN model mo ON mo.user_id = d.user_id
        WHERE d.day > b.cal_start AND d.day <= b.test_start
    ), grid AS (
        SELECT rc, CAST(count(*) AS BIGINT) AS c FROM cal GROUP BY rc
    ), cum AS (
        SELECT rc,
               CAST(sum(c) OVER (ORDER BY rc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cm,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM grid
    ), qhat AS (
        SELECT CAST(min(CASE WHEN cm >= ceil(0.9 * (n + 1)) THEN rc END)
                    AS BIGINT) AS q_cents,
               CAST(max(n) AS BIGINT) AS n_cal
        FROM cum
    ), test AS (
        SELECT d.user_id, d.m, mo.mu
        FROM daily d CROSS JOIN bounds b JOIN model mo ON mo.user_id = d.user_id
        WHERE d.day > b.test_start
    )
    SELECT q.n_cal, round(q.q_cents / 100.0, 2) AS interval_halfwidth,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (
               WHERE CAST(floor(abs(t.m - t.mu) * 100 + 0.5) AS BIGINT)
                     <= q.q_cents) AS BIGINT) AS n_covered,
           round(count(*) FILTER (
               WHERE CAST(floor(abs(t.m - t.mu) * 100 + 0.5) AS BIGINT)
                     <= q.q_cents) / CAST(count(*) AS DOUBLE), 6) AS coverage
    FROM test t CROSS JOIN qhat q
    GROUP BY q.n_cal, q.q_cents
    """,
    tags=("ml", "conformal", "intervals", "evaluation"),
)
def q_ml_conformal_forecast(spark, sf_dir):
    """Split-conformal prediction intervals for the per-user mean-level
    forecaster: fit on days <= T-14, take the ceil(0.9(n+1))-rank absolute
    residual on the T-14..T-7 calibration week as the half-width q, then
    measure empirical coverage of mu +/- q on the held-out final week —
    the DISTRIBUTION-FREE intervals (finite-sample >=90% marginal
    coverage guarantee, no normality assumption) that `ml_forecast_
    intervals`' Gaussian bands don't give.

    Residuals are rounded to integer cents so the conformal quantile is
    an exact nearest-rank pick from a bounded count grid — the
    `events_value_quantiles_grid` machinery; coverage is then pure
    integer counting. All window arithmetic in epoch days."""
    ev = load_table(spark, sf_dir, "events")
    vi = ev.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("user_id", "day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    daily = daily.localCheckpoint(eager=False)
    bounds = daily.agg(
        (F.max("day") - 14).cast("long").alias("cal_start"),
        (F.max("day") - 7).cast("long").alias("test_start"),
    )
    model = (
        daily.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("cal_start"))
        .groupBy("user_id")
        .agg(F.avg("m").alias("mu"))
    )
    rc = F.floor(F.abs(F.col("m") - F.col("mu")) * 100 + F.lit(0.5)).cast("long")
    cal = (
        daily.crossJoin(F.broadcast(bounds))
        .filter((F.col("day") > F.col("cal_start")) & (F.col("day") <= F.col("test_start")))
        .join(model, "user_id")
        .select(rc.alias("rc"))
    )
    grid = cal.groupBy("rc").agg(F.count("*").cast("long").alias("c"))
    # Distinct residual cents GROW with data scale (unlike calendar-bounded
    # day grids), so the CDF runs through the range-partitioned grid_cumsum
    # rather than a single-partition global window (VERDICT r5 item 4).
    tot = grid.agg(F.sum("c").cast("long").alias("n"))
    cum = (
        grid_cumsum(grid, ["c"], order_col="rc")
        .select("rc", F.col("cum_c").alias("cm"))
        .crossJoin(F.broadcast(tot))
    )
    qhat = cum.agg(
        F.min(
            F.when(F.col("cm") >= F.ceil(F.lit(0.9) * (F.col("n") + 1)), F.col("rc"))
        ).cast("long").alias("q_cents"),
        F.max("n").cast("long").alias("n_cal"),
    )
    test = (
        daily.crossJoin(F.broadcast(bounds))
        .filter(F.col("day") > F.col("test_start"))
        .join(model, "user_id")
    )
    covered = F.when(rc <= F.col("q_cents"), 1).otherwise(0)
    return (
        test.crossJoin(F.broadcast(qhat))
        .groupBy("n_cal", "q_cents")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(covered).cast("long").alias("n_covered"),
            F.round(F.sum(covered) / F.count("*").cast("double"), 6).alias("coverage"),
        )
        .select(
            "n_cal",
            F.round(F.col("q_cents") / 100.0, 2).alias("interval_halfwidth"),
            "n_test", "n_covered", "coverage",
        )
    )


# ---------------------------------------------------------------------------
# Open-order backlog — interval stabbing counts via +1/-1 deltas (r5)
# ---------------------------------------------------------------------------


@register(
    "orders_open_backlog",
    oracle="""
    WITH span AS (
        SELECT o.o_orderkey,
               date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                   AS d_open,
               date_diff('day', DATE '1970-01-01', max(CAST(l.l_shipdate AS DATE)))
                   AS d_close
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ), deltas AS (
        SELECT d_open AS day, 1 AS delta FROM span
        UNION ALL
        SELECT d_close + 1 AS day, -1 AS delta FROM span
    ), g AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    ), cum AS (
        SELECT day, net,
               CAST(sum(net) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS open_orders
        FROM g
    )
    SELECT CAST(day AS BIGINT) AS day, net AS net_change, open_orders
    FROM cum WHERE open_orders > 0 OR net <> 0
    """,
    tags=("orders", "operational", "intervals", "timeseries"),
)
def q_orders_open_backlog(spark, sf_dir):
    """Open-order backlog over time: how many orders are open (placed but
    not fully shipped) on each day — the interval-stabbing COUNT computed
    the scale-right way: each order contributes exactly two +1/−1 delta
    events, one grouped sum collapses deltas to the bounded day grid, and
    a running sum turns deltas into the standing count. The naive form
    (join every order interval against every day) is |orders|×|days|;
    this is 2 rows per order then calendar-sized everything. The running
    sum is over the day grid — at unbounded calendar scale it range-
    partitions exactly like `grid_cumsum`. Integer end to end."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = lambda c: F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))  # noqa: E731
    span = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max(epoch(F.col("l_shipdate"))).alias("d_close"))
        .select(epoch(F.col("o_orderdate")).alias("d_open"), "d_close")
    )
    deltas = span.select(F.col("d_open").alias("day"), F.lit(1).alias("delta")).union(
        span.select((F.col("d_close") + 1).alias("day"), F.lit(-1).alias("delta"))
    )
    g = deltas.groupBy("day").agg(F.sum("delta").cast("long").alias("net"))
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        "day", "net", F.sum("net").over(wcum).cast("long").alias("open_orders")
    )
    return cum.filter((F.col("open_orders") > 0) | (F.col("net") != 0)).select(
        F.col("day").cast("long").alias("day"),
        F.col("net").alias("net_change"),
        "open_orders",
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test — residual-sign randomness (r5)
# ---------------------------------------------------------------------------


@register(
    "stats_runs_test",
    oracle="""
    WITH vi AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ), daily AS (
        SELECT day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY day
    ), med AS (
        SELECT m AS mv FROM (
            SELECT m, row_number() OVER (ORDER BY m, day) AS rn,
                   count(*) OVER () AS n
            FROM daily
        ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), signs AS (
        SELECT d.day, CASE WHEN d.m > x.mv THEN 1 ELSE 0 END AS s
        FROM daily d CROSS JOIN med x WHERE d.m <> x.mv
    ), flagged AS (
        SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                       OR lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS brk
        FROM signs
    ), agg AS (
        SELECT CAST(sum(brk) AS BIGINT) AS runs,
               CAST(sum(s) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(s) AS BIGINT) AS n_neg
        FROM flagged
    )
    SELECT runs, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               floor((runs - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1))
                     / sqrt(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
                            / ((n_pos + n_neg) * (n_pos + n_neg) * (n_pos + n_neg - 1)))
                     * 1000000 + 0.5) / 1000000
           END AS z_stat
    FROM agg
    """,
    tags=("stats", "randomness", "runs", "diagnostic"),
)
def q_stats_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the purchase daily-mean series against
    its median: too FEW sign-runs means positive serial dependence
    (trending), too MANY means oscillation — the nonparametric randomness
    gate that complements `ts_ljung_box` (which needs moments) with a
    purely ordinal statistic. Median by exact nearest rank (day
    tie-break), runs counted by one lag comparison over the bounded daily
    grid, z from the closed-form run-count moments; ties at the median
    are dropped per the classical definition. Canon 1e-6."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    vi = ev.select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    daily = daily.localCheckpoint(eager=False)
    ranked = daily.select(
        "m",
        F.row_number().over(Window.orderBy("m", "day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / F.lit(2.0)).cast("int")
    ).select(F.col("m").alias("mv"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("m") != F.col("mv"))
        .select("day", F.when(F.col("m") > F.col("mv"), 1).otherwise(0).alias("s"))
    )
    wl = Window.orderBy("day")
    flagged = signs.select(
        "s",
        F.when(
            F.lag("s").over(wl).isNull() | (F.lag("s").over(wl) != F.col("s")), 1
        ).otherwise(0).alias("brk"),
    )
    agg = flagged.agg(
        F.sum("brk").cast("long").alias("runs"),
        F.sum("s").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("s")).cast("long").alias("n_neg"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    n = np_ + nn
    mu = F.lit(2.0) * np_ * nn / n + 1
    var = (
        F.lit(2.0) * np_ * nn * (F.lit(2.0) * np_ * nn - np_ - nn)
        / (n * n * (n - 1))
    )
    # a one-sided sign distribution (all above/below the median after tie
    # drops) has zero run variance: z undefined -> NULL on both engines
    return agg.select(
        "runs", "n_pos", "n_neg",
        F.when(
            (np_ > 0) & (nn > 0),
            F.floor((F.col("runs") - mu) / F.sqrt(var) * 1000000 + F.lit(0.5)) / 1000000,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto revenue classes — inventory classification (r5)
# ---------------------------------------------------------------------------


@register(
    "orders_abc_classes",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, cents,
               CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_cents,
               CAST(sum(cents) OVER () AS BIGINT) AS tot
        FROM rev
    ), classed AS (
        SELECT l_partkey, cents,
               CASE WHEN cum_cents <= CAST(0.8 * tot AS BIGINT) THEN 'A'
                    WHEN cum_cents <= CAST(0.95 * tot AS BIGINT) THEN 'B'
                    ELSE 'C' END AS abc
        FROM ranked
    )
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           round(sum(cents) / CAST(max(t.tot) AS DOUBLE), 6) AS revenue_share
    FROM classed CROSS JOIN (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM rev) t
    GROUP BY abc
    """,
    tags=("orders", "pareto", "inventory", "classification"),
)
def q_orders_abc_classes(spark, sf_dir):
    """ABC (Pareto) classification of parts by revenue: A = parts covering
    the first 80% of cumulative revenue, B = next 15%, C = the long tail —
    the inventory-prioritization classic, and the categorical face of
    `orders_revenue_concentration`'s Gini. Revenue is exact integer cents.
    The cumulative ranking is DECOMPOSED so no unpartitioned window ever
    sees the |parts| relation (VERDICT r5 item 3): level offsets come from
    the range-partitioned `grid_cumsum` over the distinct-cents grid
    (ordered descending via negation), and the within-level rank is a
    window PARTITIONED by cents (tie groups, bounded in practice). The
    per-row ``cum_cents`` is bit-identical to the single global
    ``ORDER BY cents DESC, l_partkey`` form by construction; class
    boundaries are integer comparisons against 0.8/0.95 of the total."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long").alias("cents")
    )
    rev = rev.localCheckpoint(eager=False)
    grid = rev.groupBy("cents").agg(F.count("*").cast("long").alias("k"))
    grid = grid.select(
        "cents",
        "k",
        (F.col("cents") * F.col("k")).cast("long").alias("sub"),
        (-F.col("cents")).alias("neg"),
    )
    lvl = grid_cumsum(grid, ["sub"], order_col="neg").select(
        "cents",
        (F.col("cum_sub") - F.col("sub")).cast("long").alias("cum_before"),
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("tot"))
    w_tie = Window.partitionBy("cents").orderBy("l_partkey")
    ranked = (
        rev.join(lvl, "cents")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "cents",
            (
                F.col("cum_before")
                + F.row_number().over(w_tie).cast("long") * F.col("cents")
            ).cast("long").alias("cum_cents"),
            "tot",
        )
    )
    abc = (
        F.when(F.col("cum_cents") <= (F.lit(0.8) * F.col("tot")).cast("long"), "A")
        .when(F.col("cum_cents") <= (F.lit(0.95) * F.col("tot")).cast("long"), "B")
        .otherwise("C")
    )
    classed = ranked.select("l_partkey", "cents", "tot", abc.alias("abc"))
    return classed.groupBy("abc").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.round(F.sum("cents") / F.max("tot").cast("double"), 6).alias(
            "revenue_share"
        ),
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality test — residual-diagnostics panel closer (r5)
# ---------------------------------------------------------------------------


@register(
    "stats_jarque_bera",
    oracle="""
    WITH vi AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'
    ), daily AS (
        SELECT day,
               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (100.0 * count(*)) AS m
        FROM vi GROUP BY day
    ), ret AS (
        SELECT m / lag(m) OVER (ORDER BY day) - 1 AS r FROM daily
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n, sum(r) AS s1,
               sum(r * r) AS s2, sum(r * r * r) AS s3,
               sum(r * r * r * r) AS s4
        FROM ret WHERE r IS NOT NULL
    ), mom AS (
        SELECT n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)
                   AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM s
    )
    SELECT n,
           floor(m3 / (m2 * sqrt(m2)) * 1000000 + 0.5) / 1000000 AS skewness,
           floor((m4 / (m2 * m2) - 3) * 1000000 + 0.5) / 1000000
               AS excess_kurtosis,
           floor(n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                 + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)
                 * 1000000 + 0.5) / 1000000 AS jb_stat
    FROM mom
    """,
    tags=("stats", "normality", "diagnostic", "finance"),
)
def q_stats_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test on the purchase daily-return series:
    JB = n/6·(S² + K²/4) from exact raw-moment sums — the fat-tails /
    skew gate that decides whether Gaussian forecast intervals
    (`ml_forecast_intervals`) are even admissible, completing the
    residual-diagnostics panel next to `ts_ljung_box` (serial
    correlation) and `stats_runs_test` (ordinal randomness). One pass of
    four power sums over the bounded daily-return relation; central
    moments by the closed-form raw→central identities, identical
    expression tree on both engines, canon 1e-6."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    vi = ev.select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    daily = vi.groupBy("day").agg(
        (F.sum("v").cast("long").cast("double") / (F.lit(100.0) * F.count("*"))).alias("m")
    )
    ret = daily.select(
        (F.col("m") / F.lag("m").over(Window.orderBy("day")) - 1).alias("r")
    ).filter(F.col("r").isNotNull())
    s = ret.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
        F.sum(F.col("r") * F.col("r") * F.col("r")).alias("s3"),
        F.sum(F.col("r") * F.col("r") * F.col("r") * F.col("r")).alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    mom = s.select("n", m2.alias("m2"), m3.alias("m3"), m4.alias("m4"))
    skew = F.col("m3") / (F.col("m2") * F.sqrt("m2"))
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return mom.select(
        "n",
        canon(skew).alias("skewness"),
        canon(exk).alias("excess_kurtosis"),
        canon(
            F.col("n") / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# Classifier evaluation — ROC AUC / PR AUC / isotonic calibration (r7)
# ---------------------------------------------------------------------------
# The reference's eval loop (lvmh_forecaster2.py:169-208) scores a model and
# reports error metrics; a corpus-filter classifier needs the ranking-metric
# equivalents.  All three queries ride the SAME trained Newton classifier as
# `ml_logistic_newton` / `ml_calibration_bins` (shared `_logistic_coeffs` /
# `_LOGISTIC_CTE_SQL`), so the whole model-audit panel provably audits one
# model.

_SCORED_CTE_SQL = _LOGISTIC_CTE_SQL + r"""
    , scored AS (
        SELECT CAST(d.z AS BIGINT) AS y,
               CAST(floor(1000000.0 / (1.0 + exp(-((c0 + d0) + (c1 + d1)*x1
                    + (c2 + d2)*x2))) + 0.5) AS BIGINT) AS pc
        FROM d CROSS JOIN fin
    ), roc_g AS (
        SELECT pc, CAST(sum(y) AS BIGINT) AS pos,
               CAST(count(*) - sum(y) AS BIGINT) AS neg
        FROM scored GROUP BY pc
    )
"""


def _scored_grid(spark, sf_dir):
    """(pc, pos, neg) quantized-score grid of the Newton domain classifier.

    pc = floor(1e6·sigmoid(w·x) + 0.5) — a BIGINT cell id, so the grid is
    bounded by min(n_docs, 1e6+1) rows regardless of corpus size and every
    downstream ranking metric is integer-exact arithmetic over it. This is
    the mergeable state a streaming model-quality monitor would persist
    per batch (same contract as the KS/quantile value grids)."""
    d = _logistic_rows(spark, sf_dir)
    coeffs = _logistic_coeffs(d).select("w0", "w1", "w2")
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")))
    )
    scored = d.crossJoin(F.broadcast(coeffs)).select(
        F.col("z").cast("long").alias("y"),
        F.floor(F.lit(1000000.0) * p + F.lit(0.5)).cast("long").alias("pc"),
    )
    # Every consumer (AP's cumsum + totals, best-F1, ROC's branches,
    # gains' deciles) references the grid several times, and column
    # pruning specializes each branch's aggregate so ReusedExchange never
    # fires (the same effect as the r7 TF-IDF triple-scan) — without
    # materialization the Newton training + scoring scan re-executes up
    # to ~10× per query (observed in ml_pr_auc's executed plan).  The
    # grid is bounded at min(n_docs, 1e6+1) rows by construction, so one
    # lazy checkpoint is cheap and collapses all branches to one pass.
    return scored.groupBy("pc").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg"),
    ).localCheckpoint(eager=False)


def score_grid_from_documents(docs, w0: float, w1: float, w2: float):
    """(pc, pos, neg) quantized score grid from a documents-shaped
    relation and FROZEN scalar coefficients — the per-batch reduction the
    streaming model-quality monitor (streaming/model_quality_stream.py)
    persists.  Identical expression tree to `_scored_grid` with the
    coefficients inlined as double literals, so a serve over the merged
    grids is bit-identical to the batch query whenever the frozen
    coefficients equal the trained ones."""
    d = _logistic_features(docs)
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")))
    )
    scored = d.select(
        F.col("z").cast("long").alias("y"),
        F.floor(F.lit(1000000.0) * p + F.lit(0.5)).cast("long").alias("pc"),
    )
    return scored.groupBy("pc").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg"),
    )


def roc_auc_from_grid(g):
    """(n_pos, n_neg, auc_num2, auc) from a (pc, pos, neg) score grid —
    tie-aware Mann-Whitney AUC with a BIGINT numerator (2U).  Shared by
    `ml_roc_auc` and any streaming model-quality serve over the same
    mergeable grid.  A grid with no positives or no negatives has no AUC:
    `auc` is null there (`try_divide`), not an ANSI divide-by-zero."""
    # pc = floor(1e6·p + 0.5) ∈ [0, 1e6] by construction → closed-form
    # bucketing, no percentile bounds job
    c = grid_cumsum(g, ["neg"], order_col="pc", value_range=(0, 1000000))
    tot = g.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
    )
    j = c.crossJoin(F.broadcast(tot))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.groupBy("n_pos", "n_neg").agg(
        F.sum(
            F.col("pos") * (2 * (F.col("cum_neg") - F.col("neg")) + F.col("neg"))
        )
        .cast("long")
        .alias("auc_num2"),
        canon(
            F.try_divide(
                F.sum(
                    F.col("pos")
                    * (2.0 * (F.col("cum_neg") - F.col("neg")) + F.col("neg"))
                ),
                2.0 * F.col("n_pos") * F.col("n_neg"),
            )
        ).alias("auc"),
    )


@register(
    "ml_roc_auc",
    oracle=_SCORED_CTE_SQL
    + r"""
    , c AS (
        SELECT pc, pos, neg,
               CAST(sum(neg) OVER (ORDER BY pc) AS BIGINT) AS cum_neg
        FROM roc_g
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg
        FROM roc_g
    )
    SELECT t.n_pos, t.n_neg,
           CAST(sum(c.pos * (2 * (c.cum_neg - c.neg) + c.neg)) AS BIGINT)
               AS auc_num2,
           floor(sum(c.pos * (2.0 * (c.cum_neg - c.neg) + c.neg))
                 / (2.0 * t.n_pos * t.n_neg) * 1000000 + 0.5) / 1000000 AS auc
    FROM c CROSS JOIN tot t
    GROUP BY t.n_pos, t.n_neg
    """,
    tags=("ml", "classifier", "eval", "grid", "mergeable"),
)
def q_ml_roc_auc(spark, sf_dir):
    """Tie-aware ROC AUC of the Newton domain classifier — the ranking
    companion to `ml_calibration_bins` (a filter can be calibrated yet
    rank poorly, and vice versa).  AUC is computed as the normalized
    Mann-Whitney U over the QUANTIZED score grid: group scores into
    pc = floor(1e6·p + 0.5) cells, take the running negative count via
    `grid_cumsum` (range-partitioned — the fact table is never globally
    sorted), then 2U = Σ_cells pos·(2·neg_below + neg_ties) stays BIGINT
    end-to-end, so both engines agree bit-wise up to the single final
    division.  At 100 TB: one scoring scan (1-row coefficient broadcast),
    one grid groupBy bounded at 1e6+1 cells, one bounded cumsum — the
    same mergeable-grid shape as the KS drift gate."""
    return roc_auc_from_grid(_scored_grid(spark, sf_dir))


def average_precision_from_grid(g):
    """(n_pos, n_neg, pr_auc, best_f1) from a (pc, pos, neg) score grid —
    step-wise average precision (ties grouped per threshold, descending)
    and the best achievable F1 over all thresholds.

    Zero-count cells (pos=0 AND neg=0) are dropped up front: a grid
    whose highest-score cell is empty would make the leading cumulative
    precision term cum_pos/(cum_pos+cum_neg) an ANSI divide-by-zero,
    and such cells contribute nothing to either statistic (their AP term
    is 0·precision and they leave every cumulative count unchanged) —
    the same degenerate-grid guard as ks/mw/jsd_from_value_grid.
    Grids built by groupBy counts never contain them; hand-built or
    merged-then-differenced grids can.  A grid with no positives has no
    AP: `pr_auc` is null there (`try_divide`)."""
    g = g.filter((F.col("pos") + F.col("neg")) > 0).withColumn(
        "npc", -F.col("pc")
    )
    c = grid_cumsum(
        g, ["pos", "neg"], order_col="npc", value_range=(-1000000, 0)
    )
    tot = g.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
    )
    j = c.crossJoin(F.broadcast(tot))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.groupBy("n_pos", "n_neg").agg(
        canon(
            F.sum(
                F.try_divide(F.col("pos"), F.col("n_pos").cast("double"))
                * (
                    F.col("cum_pos")
                    / (F.col("cum_pos") + F.col("cum_neg")).cast("double")
                )
            )
        ).alias("pr_auc"),
        canon(
            F.max(
                2.0
                * F.col("cum_pos")
                / (F.col("n_pos") + F.col("cum_pos") + F.col("cum_neg"))
            )
        ).alias("best_f1"),
    )


@register(
    "ml_pr_auc",
    oracle=_SCORED_CTE_SQL
    + r"""
    , c AS (
        SELECT pc, pos, neg,
               CAST(sum(pos) OVER (ORDER BY pc DESC) AS BIGINT) AS cum_pos,
               CAST(sum(neg) OVER (ORDER BY pc DESC) AS BIGINT) AS cum_neg
        FROM roc_g
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg
        FROM roc_g
    )
    SELECT t.n_pos, t.n_neg,
           floor(sum((c.pos / CAST(t.n_pos AS DOUBLE))
                     * (c.cum_pos / CAST(c.cum_pos + c.cum_neg AS DOUBLE)))
                 * 1000000 + 0.5) / 1000000 AS pr_auc,
           floor(max(2.0 * c.cum_pos / (t.n_pos + c.cum_pos + c.cum_neg))
                 * 1000000 + 0.5) / 1000000 AS best_f1
    FROM c CROSS JOIN tot t
    GROUP BY t.n_pos, t.n_neg
    """,
    tags=("ml", "classifier", "eval", "grid", "mergeable"),
)
def q_ml_pr_auc(spark, sf_dir):
    """Average precision (step-wise PR AUC, sklearn definition: ties share
    one threshold) and best achievable F1 of the Newton domain classifier
    — the metrics that matter when positives are rare, as they are for a
    quality filter admitting a small high-value slice of a crawl.  Over
    the same quantized score grid as `ml_roc_auc`, thresholds descend:
    cumulative TP/FP come from `grid_cumsum` over NEGATED pc (range-
    partitioned descending cumsum), precision and recall at each cell are
    ratios of BIGINTs, AP = Σ ΔR·P.  F1 maximization is a grid max of an
    integer ratio — no sort.  One scan + one bounded-grid pass."""
    return average_precision_from_grid(_scored_grid(spark, sf_dir))


def isotonic_fit_bins(bins):
    """PAV isotonic fit over a tiny ordered (bin, w, sy) relation via the
    closed minimax identity iso(i) = max_{j<=i} min_{k>=i} wavg(y, j..k)
    (Barlow et al. 1972) — no sequential pooling, just prefix sums and two
    grouped aggregates over |bins|(|bins|+1)/2 segment rows.  Emits
    (bin, n_bin, pos_rate, iso_p), canon 1e-6.  The caller must ensure
    |bins| is bounded by construction (deciles here)."""
    w_pre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "w",
        "sy",
        F.sum("w").over(w_pre).cast("long").alias("cw"),
        F.sum("sy").over(w_pre).cast("long").alias("cy"),
    )
    jj = pre.select(
        F.col("bin").alias("j"),
        (F.col("cy") - F.col("sy")).alias("cy0"),
        (F.col("cw") - F.col("w")).alias("cw0"),
    )
    kk = pre.select(F.col("bin").alias("k"), "cy", "cw")
    seg = jj.join(kk, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        ((F.col("cy") - F.col("cy0")) / (F.col("cw") - F.col("cw0")).cast("double")).alias(
            "avg_jk"
        ),
    )
    b_ids = pre.select("bin")
    inner = (
        b_ids.join(seg, (F.col("j") <= F.col("bin")) & (F.col("k") >= F.col("bin")))
        .groupBy("bin", "j")
        .agg(F.min("avg_jk").alias("m"))
    )
    iso = inner.groupBy("bin").agg(F.max("m").alias("iso_raw"))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            F.col("w").alias("n_bin"),
            canon(F.col("sy") / F.col("w").cast("double")).alias("pos_rate"),
            canon(F.col("iso_raw")).alias("iso_p"),
        )
    )


@register(
    "ml_isotonic_calibration",
    oracle=_SCORED_CTE_SQL
    + r"""
    , bins AS (
        SELECT least(CAST(floor(pc / 100000.0) AS BIGINT), 9) AS bin,
               CAST(sum(pos) + sum(neg) AS BIGINT) AS w,
               CAST(sum(pos) AS BIGINT) AS sy
        FROM roc_g GROUP BY least(CAST(floor(pc / 100000.0) AS BIGINT), 9)
    ), pre AS (
        SELECT bin, w, sy,
               CAST(sum(w) OVER (ORDER BY bin) AS BIGINT) AS cw,
               CAST(sum(sy) OVER (ORDER BY bin) AS BIGINT) AS cy
        FROM bins
    ), seg AS (
        SELECT j.bin AS j, k.bin AS k,
               (k.cy - (j.cy - j.sy)) / CAST(k.cw - (j.cw - j.w) AS DOUBLE)
                   AS avg_jk
        FROM pre j JOIN pre k ON j.bin <= k.bin
    ), inner_min AS (
        SELECT b.bin, s.j, min(s.avg_jk) AS m
        FROM pre b JOIN seg s ON s.j <= b.bin AND s.k >= b.bin
        GROUP BY b.bin, s.j
    ), iso AS (
        SELECT bin, max(m) AS iso_raw FROM inner_min GROUP BY bin
    )
    SELECT b.bin, b.w AS n_bin,
           floor(b.sy / CAST(b.w AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS pos_rate,
           floor(i.iso_raw * 1000000 + 0.5) / 1000000 AS iso_p
    FROM bins b JOIN iso i USING (bin)
    """,
    tags=("ml", "classifier", "calibration", "isotonic"),
)
def q_ml_isotonic_calibration(spark, sf_dir):
    """Isotonic recalibration of the Newton domain classifier's decile
    reliability curve — pool-adjacent-violators computed by the closed
    minimax identity iso(i) = max_{j<=i} min_{k>=i} wavg(y, j..k), which
    needs no sequential pooling loop: over the 10-row bin relation the
    (j,k) segment averages are ratios of BIGINT prefix sums (55 rows),
    and two tiny grouped aggregates take the inner min and outer max.
    Monotone by construction; equals PAV exactly (Barlow et al. 1972).
    At 100 TB the fact table contributes ONE scoring scan into the decile
    histogram; everything after is constant-size.  The decile windows are
    bounded at 10 rows by construction."""
    g = _scored_grid(spark, sf_dir)
    # <= 10 rows, branched four ways inside the PAV minimax (prefix sums,
    # both sides of the segment join, final output) — materialize so the
    # 3-scan scoring chain runs ONCE, not once per branch.
    bins = (
        g.groupBy(
            F.least(
                F.floor(F.col("pc") / 100000.0).cast("long"), F.lit(9).cast("long")
            ).alias("bin")
        )
        .agg(
            (F.sum("pos") + F.sum("neg")).cast("long").alias("w"),
            F.sum("pos").cast("long").alias("sy"),
        )
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    return isotonic_fit_bins(bins)


# ---------------------------------------------------------------------------
# Group-comparison suite — one-way ANOVA / Brown-Forsythe / Cramer's V (r7)
# ---------------------------------------------------------------------------


def oneway_f_from_group_sums(s):
    """One-way ANOVA (k, n, f_stat, eta_sq) from a per-group BIGINT
    moment relation (n, sx, sxx) — SSB/SSW via the closed raw-sum
    identities, canon 1e-6.  Shared by `stats_anova_oneway` (raw values)
    and `stats_levene_brown_forsythe` (|x − median| deviations)."""
    agg = s.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n"),
        F.sum(F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("sb_raw"),
        F.sum("sx").cast("long").alias("sx_all"),
        F.sum(
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        ).alias("ssw"),
    )
    ssb = F.col("sb_raw") - F.col("sx_all").cast("double") * F.col("sx_all") / F.col("n")
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return agg.select(
        "k",
        "n",
        canon(ssb / (F.col("k") - 1) / (F.col("ssw") / (F.col("n") - F.col("k")))).alias(
            "f_stat"
        ),
        canon(ssb / (ssb + F.col("ssw"))).alias("eta_sq"),
    )


@register(
    "stats_anova_oneway",
    oracle="""
    WITH s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n,
               sum(CAST(sx AS DOUBLE) * sx / n) AS sb_raw,
               CAST(sum(sx) AS BIGINT) AS sx_all,
               sum(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS ssw
        FROM s
    )
    SELECT k, n,
           floor((sb_raw - CAST(sx_all AS DOUBLE) * sx_all / n) / (k - 1)
                 / (ssw / (n - k)) * 1000000 + 0.5) / 1000000 AS f_stat,
           floor((sb_raw - CAST(sx_all AS DOUBLE) * sx_all / n)
                 / (sb_raw - CAST(sx_all AS DOUBLE) * sx_all / n + ssw)
                 * 1000000 + 0.5) / 1000000 AS eta_sq
    FROM agg
    """,
    tags=("stats", "anova", "drift"),
)
def q_stats_anova_oneway(spark, sf_dir):
    """One-way ANOVA of document length across ALL five corpus sources —
    the k-group generalization of `stats_welch_ttest`'s two-group gate
    (does ANY source deviate in mean length?), plus eta² effect size so a
    significant-but-negligible shift can't page anyone.  INTEGER-EXACT
    accumulation: per-group (n, Σx, Σx²) are BIGINTs off ONE map-side-
    combined scan; SSB/SSW come from the closed raw-sum identities
    SSB = Σ s_g²/n_g − S²/N, SSW = Σ (ss_g − s_g²/n_g) over the 5-row
    group relation, identical IEEE tree both engines, canon 1e-6."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("sxx"),
    )
    out = oneway_f_from_group_sums(s)
    return out.select("k", "n", "f_stat", "eta_sq")


@register(
    "stats_levene_brown_forsythe",
    oracle="""
    WITH g AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source, n_chars
    ), c AS (
        SELECT source, v, cnt,
               CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
        FROM g
    ), tot AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM g GROUP BY source
    ), med AS (
        SELECT c.source, CAST(min(CASE WHEN c.cum * 2 >= t.n THEN c.v END) AS BIGINT) AS med
        FROM c JOIN tot t USING (source) GROUP BY c.source
    ), dev AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(abs(d.n_chars - m.med)) AS BIGINT) AS sx,
               CAST(sum(abs(d.n_chars - m.med) * abs(d.n_chars - m.med)) AS BIGINT) AS sxx
        FROM documents d JOIN med m USING (source)
        GROUP BY d.source
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n,
               sum(CAST(sx AS DOUBLE) * sx / n) AS sb_raw,
               CAST(sum(sx) AS BIGINT) AS sx_all,
               sum(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS ssw
        FROM dev
    )
    SELECT k, n,
           floor((sb_raw - CAST(sx_all AS DOUBLE) * sx_all / n) / (k - 1)
                 / (ssw / (n - k)) * 1000000 + 0.5) / 1000000 AS bf_stat
    FROM agg
    """,
    tags=("stats", "levene", "variance", "drift"),
)
def q_stats_levene_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe homogeneity-of-variance test across the five corpus
    sources: one-way ANOVA on |x − group median| — the robust member the
    ANOVA gate needs, since `stats_anova_oneway` assumes equal variances
    and a SCALE shift (not a mean shift) is what a re-crawled source
    usually does.  Medians are exact nearest-rank (cum·2 >= n — lower
    median) off the per-source value grid via a PARTITIONED cumsum (the
    fact table is never globally sorted); the deviation pass re-scans
    documents once against the broadcast 5-row median relation, and every
    deviation is a BIGINT so the ANOVA sums stay integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select("source", "v", "cnt", F.sum("cnt").over(w).cast("long").alias("cum"))
    tot = g.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    med = (
        c.join(tot, "source")
        .groupBy("source")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("v")))
            .cast("long")
            .alias("med")
        )
    )
    dev = (
        docs.join(F.broadcast(med), "source")
        .select("source", F.abs(F.col("n_chars") - F.col("med")).alias("a"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("a").cast("long").alias("sx"),
            F.sum(F.col("a") * F.col("a")).cast("long").alias("sxx"),
        )
    )
    out = oneway_f_from_group_sums(dev)
    return out.select("k", "n", F.col("f_stat").alias("bf_stat"))


@register(
    "stats_cramers_v",
    oracle="""
    WITH ct AS (
        SELECT event_type AS r, CAST(dayofweek(ts) AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS n_rc
        FROM events GROUP BY event_type, dayofweek(ts)
    ), rm AS (
        SELECT r, CAST(sum(n_rc) AS BIGINT) AS n_r FROM ct GROUP BY r
    ), cm AS (
        SELECT c, CAST(sum(n_rc) AS BIGINT) AS n_c FROM ct GROUP BY c
    ), tot AS (
        SELECT CAST(sum(n_rc) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS nr,
               CAST(count(DISTINCT c) AS BIGINT) AS nc
        FROM ct
    ), chi AS (
        SELECT sum((ct.n_rc - CAST(rm.n_r AS DOUBLE) * cm.n_c / t.n)
                   * (ct.n_rc - CAST(rm.n_r AS DOUBLE) * cm.n_c / t.n)
                   / (CAST(rm.n_r AS DOUBLE) * cm.n_c / t.n)) AS chi2,
               min(t.n) AS n, min(t.nr) AS nr, min(t.nc) AS nc
        FROM ct JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tot t
    )
    SELECT n, nr, nc,
           floor(chi2 * 1000000 + 0.5) / 1000000 AS chi2,
           floor(sqrt(chi2 / (n * (least(nr, nc) - 1))) * 1000000 + 0.5)
               / 1000000 AS cramers_v
    FROM chi
    """,
    tags=("stats", "contingency", "effect-size"),
)
def q_stats_cramers_v(spark, sf_dir):
    """Cramer's V effect size for the event-type × day-of-week association
    — the [0,1]-normalized companion to `stats_chi_square_contingency`,
    so a chi² that is merely large-because-n-is-large can't gate a
    pipeline (the 100 TB failure mode of every unnormalized test).  ONE
    scan builds the integer contingency grid (|types|·7 cells); margins,
    chi², and V = sqrt(chi² / (n·(min(r,c)−1))) are fixed-shape
    arithmetic over it, canon 1e-6.  DuckDB's dayofweek() is 0-6
    (Sunday=0) while Spark's dayofweek() is 1-7 (Sunday=1) — the Spark
    side subtracts 1 so the grid keys agree bit-wise."""
    ev = load_table(spark, sf_dir, "events")
    ct = ev.groupBy(
        F.col("event_type").alias("r"),
        (F.dayofweek("ts") - 1).cast("long").alias("c"),
    ).agg(F.count("*").cast("long").alias("n_rc"))
    rm = ct.groupBy("r").agg(F.sum("n_rc").cast("long").alias("n_r"))
    cm = ct.groupBy("c").agg(F.sum("n_rc").cast("long").alias("n_c"))
    tot = ct.agg(
        F.sum("n_rc").cast("long").alias("n"),
        F.countDistinct("r").cast("long").alias("nr"),
        F.countDistinct("c").cast("long").alias("nc"),
    )
    e = F.col("n_r").cast("double") * F.col("n_c") / F.col("n")
    chi = (
        ct.join(F.broadcast(rm), "r")
        .join(F.broadcast(cm), "c")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum((F.col("n_rc") - e) * (F.col("n_rc") - e) / e).alias("chi2"),
            F.min("n").alias("n"),
            F.min("nr").alias("nr"),
            F.min("nc").alias("nc"),
        )
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return chi.select(
        "n",
        "nr",
        "nc",
        canon(F.col("chi2")).alias("chi2"),
        canon(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("nr", "nc") - 1)))
        ).alias("cramers_v"),
    )


@register(
    "ml_roc_auc_stream_serve",
    oracle=_SCORED_CTE_SQL
    + r"""
    , c AS (
        SELECT pc, pos, neg,
               CAST(sum(neg) OVER (ORDER BY pc) AS BIGINT) AS cum_neg
        FROM roc_g
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg
        FROM roc_g
    )
    SELECT t.n_pos, t.n_neg,
           CAST(sum(c.pos * (2 * (c.cum_neg - c.neg) + c.neg)) AS BIGINT)
               AS auc_num2,
           floor(sum(c.pos * (2.0 * (c.cum_neg - c.neg) + c.neg))
                 / (2.0 * t.n_pos * t.n_neg) * 1000000 + 0.5) / 1000000 AS auc
    FROM c CROSS JOIN tot t
    GROUP BY t.n_pos, t.n_neg
    """,
    tags=("ml", "classifier", "eval", "streaming", "incremental"),
)
def q_ml_roc_auc_stream_serve(spark, sf_dir):
    """INCREMENTAL twin of `ml_roc_auc`, exercised as a batch-callable
    query: the Newton classifier is trained once, its coefficients frozen
    (one bounded 1-row collect — the deploy step), then the documents
    table is ingested in three deterministic micro-batches (split on
    pmod(xxhash64(doc_id), 3)) through `ModelQualityStreamMonitor`, whose
    per-batch state is the quantized (pc, pos, neg) score grid.  The
    SERVED AUC over the merged grids is returned; the oracle is the plain
    one-batch SQL — passing value-hash-exact proves the merge-of-grids
    serve is bit-identical to batch scoring (grouped-sum merge is
    associative; 2U stays BIGINT).  Store in a process-scoped temp dir
    (Spark's lazy analyzer re-resolves file sources on later actions, so
    the store must outlive the returned DataFrame)."""
    import atexit
    import shutil
    import tempfile

    from ..streaming.model_quality_stream import ModelQualityStreamMonitor

    docs = load_table(spark, sf_dir, "documents")
    w = _logistic_coeffs(_logistic_rows(spark, sf_dir)).select("w0", "w1", "w2").collect()[0]
    store = tempfile.mkdtemp(prefix="mq_serve_")
    atexit.register(shutil.rmtree, store, ignore_errors=True)
    mon = ModelQualityStreamMonitor(spark, store, w.w0, w.w1, w.w2)
    for bid in range(3):
        mon.ingest_batch(
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == bid), bid
        )
    return mon.serve_roc_auc()


# ---------------------------------------------------------------------------
# Normal-tail p-values — A&S 7.1.26 erf, identical expression both engines
# ---------------------------------------------------------------------------
# p_two(z) = 2·(1 − Φ(|z|)) = 1 − erf(|z|/√2).  The Abramowitz-Stegun
# 7.1.26 polynomial (|error| < 1.5e-7, far inside the 1e-6 canon) is a
# fixed-shape IEEE expression, so Spark and DuckDB agree bit-for-bit given
# bit-identical z.  Coefficients are spelled as full-precision literals on
# both sides.

_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT2 = 1.4142135623730951


def p_two_sided(z):
    """Two-sided normal p-value column from a z column (A&S 7.1.26)."""
    x = F.abs(z) / F.lit(_SQRT2)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * x)
    a1, a2, a3, a4, a5 = (F.lit(a) for a in _ERF_A)
    poly = t * (a1 + t * (a2 + t * (a3 + t * (a4 + t * a5))))
    return poly * F.exp(-x * x)


def p_two_sided_sql(zexpr: str) -> str:
    """DuckDB twin of :func:`p_two_sided` (same nesting order)."""
    x = f"(abs({zexpr}) / {_SQRT2!r})"
    t = f"(1.0 / (1.0 + {_ERF_P!r} * {x}))"
    a1, a2, a3, a4, a5 = (repr(a) for a in _ERF_A)
    poly = f"({t} * ({a1} + {t} * ({a2} + {t} * ({a3} + {t} * ({a4} + {t} * {a5})))))"
    return f"({poly} * exp(-{x} * {x}))"


def conversion_bits(events_df):
    """(cohort, user_id, conv) per-user conversion-bit relation: cohort =
    user_id parity, conv = 1 iff the user has any high-value purchase
    (value >= 200) among these events.  IDEMPOTENT under re-aggregation —
    bits merge by grouped MAX — which is what makes this the per-batch
    state of the streaming experiment monitor
    (streaming/experiment_stream.py)."""
    return events_df.groupBy(
        (F.col("user_id") % 2).alias("cohort"), F.col("user_id")
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 200.0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("conv")
    )


def two_proportion_from_bits(bits):
    """(n0, n1, c0, c1, conv0, conv1, z, p_value) one-rower from a
    (cohort, user_id, conv) bit relation — pooled-variance two-proportion
    z with the shared A&S p-value; z/p NULL when pooled variance is 0."""
    s = bits.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n"), F.sum("conv").cast("long").alias("c")
    )
    a = s.filter(F.col("cohort") == 0).select(
        F.col("n").alias("n0"), F.col("c").alias("c0")
    )
    b = s.filter(F.col("cohort") == 1).select(
        F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    w = a.crossJoin(F.broadcast(b))
    p0 = F.col("c0") / F.col("n0").cast("double")
    p1 = F.col("c1") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1")).cast("double")
    ok = pp * (F.lit(1.0) - pp) > 0
    z = F.when(
        ok,
        (p1 - p0)
        / F.sqrt(
            pp
            * (F.lit(1.0) - pp)
            * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
        ),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return w.select(
        "n0",
        "n1",
        "c0",
        "c1",
        canon(p0).alias("conv0"),
        canon(p1).alias("conv1"),
        canon(z).alias("z"),
        canon(p_two_sided(z)).alias("p_value"),
    )


@register(
    "stats_two_proportion_z",
    oracle=f"""
    WITH u AS (
        SELECT user_id % 2 AS cohort,
               max(CASE WHEN event_type = 'purchase' AND value >= 200.0
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ), s AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS c
        FROM u GROUP BY cohort
    ), w AS (
        SELECT a.n AS n0, a.c AS c0, b.n AS n1, b.c AS c1,
               a.c / CAST(a.n AS DOUBLE) AS p0,
               b.c / CAST(b.n AS DOUBLE) AS p1,
               (a.c + b.c) / CAST(a.n + b.n AS DOUBLE) AS pp
        FROM s a JOIN s b ON a.cohort = 0 AND b.cohort = 1
    )
    SELECT n0, n1, c0, c1,
           floor(p0 * 1000000 + 0.5) / 1000000 AS conv0,
           floor(p1 * 1000000 + 0.5) / 1000000 AS conv1,
           CASE WHEN pp * (1.0 - pp) > 0
                THEN floor(((p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0/n0 + 1.0/n1))) * 1000000 + 0.5) / 1000000 END AS z,
           CASE WHEN pp * (1.0 - pp) > 0
                THEN floor({p_two_sided_sql('((p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0/n0 + 1.0/n1)))')} * 1000000 + 0.5) / 1000000 END AS p_value
    FROM w
    """,
    tags=("stats", "ab-test", "proportion"),
)
def q_stats_two_proportion_z(spark, sf_dir):
    """Two-proportion z-test of HIGH-VALUE purchase conversion (a
    purchase with value >= 200 — plain purchase is degenerate on this
    data: every user converts, pooled variance 0) between the two
    deterministic user cohorts (user_id parity — the split an A/B
    assignment would produce): the experiment-readout primitive next to
    the drift gates.  Per-user conversion collapses to one bit (max over
    events), cohort counts are BIGINTs off two grouped aggs, and the
    pooled-variance z plus its two-sided normal p-value (A&S 7.1.26 erf
    polynomial — |err| < 1.5e-7, inside the 1e-6 canon) are fixed-shape
    IEEE expressions both engines evaluate identically; z/p are NULL when
    pooled variance is 0 (all or none convert — the Mann-Whitney
    degenerate-grid convention) instead of an ANSI divide-by-zero.  At
    100 TB: one user-keyed shuffle, then constant-size arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    return two_proportion_from_bits(conversion_bits(ev))


@register(
    "stats_fdr_bh",
    oracle=f"""
    WITH li AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(v) AS BIGINT) AS s_g,
               sum(CAST(v AS DOUBLE) * v) AS ss_g
        FROM li
    ), b AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(v) AS BIGINT) AS s_b
        FROM li GROUP BY brand
    ), zs AS (
        SELECT b.brand, b.n_b,
               (CAST(b.s_b AS DOUBLE) / b.n_b - CAST(g.s_g AS DOUBLE) / g.n_g)
               / sqrt((g.ss_g / g.n_g
                       - (CAST(g.s_g AS DOUBLE) / g.n_g)
                         * (CAST(g.s_g AS DOUBLE) / g.n_g)) / b.n_b) AS z
        FROM b CROSS JOIN g
    ), ps AS (
        SELECT brand, n_b, z, {p_two_sided_sql('z')} AS p FROM zs
    ), ranked AS (
        SELECT brand, n_b, z, p,
               CAST(row_number() OVER (ORDER BY p, brand) AS BIGINT) AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM ps
    ), thr AS (
        SELECT coalesce(max(CASE WHEN p <= 0.10 * rnk / m THEN rnk END), 0)
                   AS t
        FROM ranked
    )
    SELECT r.brand, r.n_b,
           floor(r.z * 1000000 + 0.5) / 1000000 AS z,
           floor(r.p * 1000000 + 0.5) / 1000000 AS p_value,
           r.rnk, r.rnk <= t.t AS rejected
    FROM ranked r CROSS JOIN thr t
    """,
    tags=("stats", "multiple-testing", "fdr"),
)
def q_stats_fdr_bh(spark, sf_dir):
    """Benjamini-Hochberg FDR control over a FAMILY of tests — per-brand
    price-deviation z-tests (brand mean vs catalog mean, catalog variance,
    integer-cents sums) corrected at q = 0.10.  Running 25 brand gates
    uncorrected fires ~2.5 false alarms per healthy scan; BH is the
    standard fix every monitoring suite needs once it has more than one
    gate.  Mechanics: z and the A&S-7.1.26 two-sided p are fixed-shape
    IEEE expressions off BIGINT sums (bit-identical both engines, so the
    p-RANKS agree exactly); p(i) is ranked ascending with the brand
    tiebreak; the step-up threshold is the largest i with
    p(i) <= q·i/m, and every rank at or below it is rejected.  The rank
    window runs over the |brands|-row relation — bounded by the catalog's
    25 brands, not the data (allowlisted in the plan sweep); the fact
    table contributes ONE scan into the per-brand moment aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rows = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    g = rows.agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("v").cast("long").alias("s_g"),
        F.sum(F.col("v").cast("double") * F.col("v")).alias("ss_g"),
    )
    b = rows.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("v").cast("long").alias("s_b"),
    )
    mg = F.col("s_g").cast("double") / F.col("n_g")
    var_g = F.col("ss_g") / F.col("n_g") - mg * mg
    zs = b.crossJoin(F.broadcast(g)).select(
        "brand",
        "n_b",
        (
            (F.col("s_b").cast("double") / F.col("n_b") - mg)
            / F.sqrt(var_g / F.col("n_b"))
        ).alias("z"),
    )
    ps = zs.select("brand", "n_b", "z", p_two_sided(F.col("z")).alias("p"))
    w_rank = Window.orderBy("p", "brand")
    ranked = ps.select(
        "brand",
        "n_b",
        "z",
        "p",
        F.row_number().over(w_rank).cast("long").alias("rnk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("m"),
    )
    thr = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= 0.10 * F.col("rnk") / F.col("m"), F.col("rnk")
                )
            ),
            F.lit(0).cast("long"),
        ).alias("t")
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return ranked.crossJoin(F.broadcast(thr)).select(
        "brand",
        "n_b",
        canon(F.col("z")).alias("z"),
        canon(F.col("p")).alias("p_value"),
        "rnk",
        (F.col("rnk") <= F.col("t")).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Deterministic permutation test — one-scan random-relabeling inference (r7)
# ---------------------------------------------------------------------------

_PERM_B = 32


def _perm_test_oracle() -> str:
    from ..functions.hashing import md5_60_sql

    h60 = md5_60_sql("CAST(doc_id AS VARCHAR)")
    aggs = ", ".join(
        f"CAST(sum(CASE WHEN (h >> {b}) & 1 = 1 THEN x ELSE 0 END) AS BIGINT) AS s1_{b}, "
        f"CAST(sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_{b}"
        for b in range(_PERM_B)
    )
    diffs = ", ".join(
        f"(CAST(s1_{b} AS DOUBLE) / n1_{b}"
        f" - CAST(sx - s1_{b} AS DOUBLE) / (n - n1_{b})) AS d{b}"
        for b in range(_PERM_B)
    )
    exceed = " + ".join(
        f"CASE WHEN abs(d{b}) >= abs(obs) THEN 1 ELSE 0 END" for b in range(_PERM_B)
    )
    return f"""
    WITH r AS (
        SELECT n_chars AS x,
               CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS z,
               {h60} AS h
        FROM documents WHERE source IN ('src0', 'src1')
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(CASE WHEN z = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
               CAST(sum(z) AS BIGINT) AS n1,
               {aggs}
        FROM r
    ), d AS (
        SELECT n,
               (CAST(sx1 AS DOUBLE) / n1 - CAST(sx - sx1 AS DOUBLE) / (n - n1))
                   AS obs,
               {diffs}
        FROM s
    )
    SELECT n,
           floor(obs * 1000000 + 0.5) / 1000000 AS obs_diff,
           CAST({exceed} AS BIGINT) AS n_exceed,
           floor((1.0 + ({exceed})) / {_PERM_B + 1}.0 * 1000000 + 0.5) / 1000000
               AS p_mc
    FROM d
    """


@register(
    "stats_permutation_test",
    oracle=_perm_test_oracle(),
    tags=("stats", "resampling", "permutation"),
)
def q_stats_permutation_test(spark, sf_dir):
    """Monte-Carlo permutation test for the src1-vs-src0 mean length
    shift — the distribution-free companion to `stats_welch_ttest` (no
    normality or variance model; the null is built by relabeling).  The
    100 TB trick is the same as the Poisson bootstrap: 32 deterministic
    relabelings are NOT 32 shuffles — bit b of md5_60(doc_id) assigns the
    row's group in permutation b, so ONE scan accumulates all 32
    (Σx, n)-per-group pairs as map-side-combined conditional sums
    (BIGINT-exact), and the add-one Monte-Carlo p-value
    p = (1 + #{b: |Δ_b| >= |Δ_obs|}) / 33 is closed-form arithmetic over
    the one-row result.  Relabeling is i.i.d. fair-coin (group sizes
    binomial, not fixed-margin — the standard MC approximation,
    documented), and every |Δ| comparison is on bit-identical doubles."""
    from ..functions.hashing import md5_60

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    r = docs.select(
        F.col("n_chars").alias("x"),
        F.when(F.col("source") == "src1", 1).otherwise(0).alias("z"),
        md5_60(F.col("doc_id").cast("string")).alias("h"),
    )
    aggs = [
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.when(F.col("z") == 1, F.col("x")).otherwise(0)).cast("long").alias("sx1"),
        F.sum("z").cast("long").alias("n1"),
    ]
    for b in range(_PERM_B):
        g = F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1))
        aggs.append(
            F.sum(F.when(g == 1, F.col("x")).otherwise(0)).cast("long").alias(f"s1_{b}")
        )
        aggs.append(F.sum(F.when(g == 1, 1).otherwise(0)).cast("long").alias(f"n1_{b}"))
    s = r.agg(*aggs)
    obs = F.col("sx1").cast("double") / F.col("n1") - (
        F.col("sx") - F.col("sx1")
    ).cast("double") / (F.col("n") - F.col("n1"))
    d = s.select(
        "n",
        obs.alias("obs"),
        *[
            (
                F.col(f"s1_{b}").cast("double") / F.col(f"n1_{b}")
                - (F.col("sx") - F.col(f"s1_{b}")).cast("double")
                / (F.col("n") - F.col(f"n1_{b}"))
            ).alias(f"d{b}")
            for b in range(_PERM_B)
        ],
    )
    exceed = sum(
        [
            F.when(F.abs(F.col(f"d{b}")) >= F.abs(F.col("obs")), 1).otherwise(0)
            for b in range(_PERM_B)
        ],
        F.lit(0),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return d.select(
        "n",
        canon(F.col("obs")).alias("obs_diff"),
        exceed.cast("long").alias("n_exceed"),
        canon((F.lit(1.0) + exceed) / F.lit(float(_PERM_B + 1))).alias("p_mc"),
    )


# ---------------------------------------------------------------------------
# Harmonic (Fourier-feature) regression — closed-form seasonal fit (r7)
# ---------------------------------------------------------------------------

_TWO_PI_OVER_7 = 0.8975979010256552  # 2*pi/7, full-precision double literal


@register(
    "ml_harmonic_regression",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
    ), feats AS (
        SELECT y,
               floor(sin({_TWO_PI_OVER_7!r} * (day % 7)) * 1000000000000 + 0.5)
                   / 1000000000000 AS x1,
               floor(cos({_TWO_PI_OVER_7!r} * (day % 7)) * 1000000000000 + 0.5)
                   / 1000000000000 AS x2
        FROM daily
    ), s AS (
        SELECT CAST(count(*) AS DOUBLE) AS s11,
               sum(x1) AS s12, sum(x2) AS s13,
               sum(x1*x1) AS s22, sum(x1*x2) AS s23, sum(x2*x2) AS s33,
               sum(y) AS g1, sum(x1*y) AS g2, sum(x2*y) AS g3,
               sum(y*y) AS syy
        FROM feats
    ), b AS (
        SELECT s11, g1, g2, g3, syy,
        {_LOGISTIC_SOLVE_SQL.format(scale="1.0", c0="b0", c1="b1", c2="b2")}
        FROM s
    )
    SELECT CAST(s11 AS BIGINT) AS n,
           floor(b0 * 100000 + 0.5) / 100000 AS b0,
           floor(b1 * 100000 + 0.5) / 100000 AS b1,
           floor(b2 * 100000 + 0.5) / 100000 AS b2,
           floor((b0*g1 + b1*g2 + b2*g3 - g1*g1/s11)
                 / (syy - g1*g1/s11) * 1000000 + 0.5) / 1000000 AS r2
    FROM b
    """,
    tags=("ml", "regression", "seasonality", "forecast"),
)
def q_ml_harmonic_regression(spark, sf_dir):
    """Closed-form harmonic (Fourier-feature) regression of daily purchase
    revenue on the weekly cycle: y_d = b0 + b1·sin(2πd/7) + b2·cos(2πd/7)
    by exact 3×3 normal equations — the seasonality-aware forecaster the
    reference's LSTM implicitly learns, as ONE aggregation plus the
    adjugate solve (`_solve3`, shared with the Newton classifier).
    sin/cos features are quantized at 1e-12 so both engines build
    bit-identical design sums despite libm last-ulp differences; y is
    exact integer-cents/100.  R² from the same sums:
    (b'X'y − nȳ²)/(Σy² − nȳ²).  At 100 TB the fact table contributes one
    grouped-cents scan into the calendar-bounded day grid; everything
    after is constant-size.  Amplitude/phase of the weekly cycle follow
    from (b1, b2) — the deseasonalization companion to
    `ts_seasonal_strength` and `ts_periodogram`."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day")
    ).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias(
            "y"
        )
    )
    q12 = lambda c: F.floor(c * F.lit(1000000000000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
        1000000000000.0
    )
    ang = F.lit(_TWO_PI_OVER_7) * (F.col("day") % 7)
    feats = daily.select(
        "y", q12(F.sin(ang)).alias("x1"), q12(F.cos(ang)).alias("x2")
    )
    s = feats.agg(
        F.count("*").cast("double").alias("s11"),
        F.sum("x1").alias("s12"),
        F.sum("x2").alias("s13"),
        F.sum(F.col("x1") * F.col("x1")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s23"),
        F.sum(F.col("x2") * F.col("x2")).alias("s33"),
        F.sum("y").alias("g1"),
        F.sum(F.col("x1") * F.col("y")).alias("g2"),
        F.sum(F.col("x2") * F.col("y")).alias("g3"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    b0, b1, b2 = _solve3(
        *[F.col(k) for k in ("s11", "s12", "s13", "s22", "s23", "s33", "g1", "g2", "g3")],
        F.lit(1.0),
    )
    withb = s.select(
        "s11", "g1", "g2", "g3", "syy", b0.alias("b0"), b1.alias("b1"), b2.alias("b2")
    )
    sse_part = (
        F.col("b0") * F.col("g1") + F.col("b1") * F.col("g2") + F.col("b2") * F.col("g3")
    )
    sst = F.col("syy") - F.col("g1") * F.col("g1") / F.col("s11")
    canon5 = lambda c: F.floor(c * 100000 + F.lit(0.5)) / 100000  # noqa: E731
    canon6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return withb.select(
        F.col("s11").cast("long").alias("n"),
        canon5(F.col("b0")).alias("b0"),
        canon5(F.col("b1")).alias("b1"),
        canon5(F.col("b2")).alias("b2"),
        canon6(
            (sse_part - F.col("g1") * F.col("g1") / F.col("s11")) / sst
        ).alias("r2"),
    )


@register(
    "ml_ks_separation",
    oracle=_SCORED_CTE_SQL
    + r"""
    , c AS (
        SELECT pc,
               CAST(sum(pos) OVER (ORDER BY pc) AS BIGINT) AS cuma,
               CAST(sum(neg) OVER (ORDER BY pc) AS BIGINT) AS cumb
        FROM roc_g
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS na, CAST(sum(neg) AS BIGINT) AS nb
        FROM roc_g
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           max(abs(c.cuma * t.nb - c.cumb * t.na)) AS ks_num,
           max(abs(c.cuma * t.nb - c.cumb * t.na)) / CAST(t.na * t.nb AS DOUBLE)
               AS ks_d
    FROM c CROSS JOIN tot t
    GROUP BY t.na, t.nb
    """,
    tags=("ml", "classifier", "eval", "ks"),
)
def q_ml_ks_separation(spark, sf_dir):
    """KS separation statistic of the Newton domain classifier — the
    credit-scoring standard: sup |CDF_pos − CDF_neg| over the score axis,
    i.e. how far apart the classifier pushes the two classes (AUC's
    worst-point companion; a model can have decent AUC but a thin
    separation everywhere).  Pure reuse of the drift suite's
    INTEGER-EXACT KS core (`ks_from_value_grid` — max |cumA·n_B −
    cumB·n_A| over the quantized score grid, BIGINT end-to-end), applied
    to the (pc, pos, neg) grid instead of a value grid: model-eval and
    drift-detection are literally the same statistic over different
    grids, and at 100 TB both cost one grid groupBy + one bounded
    cumsum."""
    g = _scored_grid(spark, sf_dir)
    return ks_from_value_grid(
        g.select(F.col("pc").alias("v"), F.col("pos").alias("ca"), F.col("neg").alias("cb")),
        value_range=(0, 1000000),
    )


@register(
    "ml_cumulative_gains",
    oracle=_SCORED_CTE_SQL
    + r"""
    , c AS (
        SELECT pc, pos, neg,
               CAST(sum(pos) OVER (ORDER BY pc DESC) AS BIGINT) AS cum_pos,
               CAST(sum(pos + neg) OVER (ORDER BY pc DESC) AS BIGINT) AS cum_all
        FROM roc_g
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(pos) + sum(neg) AS BIGINT) AS n_all
        FROM roc_g
    ), deciles AS (
        SELECT unnest(range(1, 11)) AS decile
    )
    SELECT d.decile,
           coalesce(max(CASE WHEN c.cum_all * 10 <= d.decile * t.n_all
                             THEN c.cum_pos END), 0) AS pos_captured,
           t.n_pos,
           floor(coalesce(max(CASE WHEN c.cum_all * 10 <= d.decile * t.n_all
                                   THEN c.cum_pos END), 0)
                 / CAST(t.n_pos AS DOUBLE) * 1000000 + 0.5) / 1000000
               AS capture_rate
    FROM deciles d CROSS JOIN tot t LEFT JOIN c ON TRUE
    GROUP BY d.decile, t.n_pos
    """,
    tags=("ml", "classifier", "eval", "gains"),
)
def q_ml_cumulative_gains(spark, sf_dir):
    """Cumulative-gains table of the Newton domain classifier: how many of
    all positives are captured in the top 10%/20%/…/100% of the scored
    population — THE operational question for a quality filter with a
    fixed token budget ("if I can only keep 20% of the crawl, how much
    src1 do I get?").  Over the same quantized score grid: descending
    cumulative positives/population, then per decile the largest exact
    integer capture with cum_all·10 <= decile·n_all (no fp in the
    threshold test).  The grid-to-10-rows reduction is a broadcast cross
    join + grouped max — constant-size after the one scoring scan."""
    g = _scored_grid(spark, sf_dir).withColumn("npc", -F.col("pc"))
    c = grid_cumsum(
        g.withColumn("all_c", F.col("pos") + F.col("neg")),
        ["pos", "all_c"],
        order_col="npc",
        value_range=(-1000000, 0),
    )
    tot = g.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("pos") + F.sum("neg")).cast("long").alias("n_all"),
    )
    deciles = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    j = c.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(deciles))
    captured = F.max(
        F.when(
            F.col("cum_all_c") * 10 <= F.col("decile") * F.col("n_all"),
            F.col("cum_pos"),
        )
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.groupBy("decile", "n_pos").agg(
        F.coalesce(captured, F.lit(0).cast("long")).alias("pos_captured"),
        canon(
            F.coalesce(captured, F.lit(0).cast("long")) / F.col("n_pos").cast("double")
        ).alias("capture_rate"),
    ).select("decile", "pos_captured", "n_pos", "capture_rate")


@register(
    "stats_experiment_stream_serve",
    oracle=f"""
    WITH u AS (
        SELECT user_id % 2 AS cohort,
               max(CASE WHEN event_type = 'purchase' AND value >= 200.0
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ), s AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS c
        FROM u GROUP BY cohort
    ), w AS (
        SELECT a.n AS n0, a.c AS c0, b.n AS n1, b.c AS c1,
               a.c / CAST(a.n AS DOUBLE) AS p0,
               b.c / CAST(b.n AS DOUBLE) AS p1,
               (a.c + b.c) / CAST(a.n + b.n AS DOUBLE) AS pp
        FROM s a JOIN s b ON a.cohort = 0 AND b.cohort = 1
    )
    SELECT n0, n1, c0, c1,
           floor(p0 * 1000000 + 0.5) / 1000000 AS conv0,
           floor(p1 * 1000000 + 0.5) / 1000000 AS conv1,
           CASE WHEN pp * (1.0 - pp) > 0
                THEN floor(((p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0/n0 + 1.0/n1))) * 1000000 + 0.5) / 1000000 END AS z,
           CASE WHEN pp * (1.0 - pp) > 0
                THEN floor({p_two_sided_sql('((p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0/n0 + 1.0/n1)))')} * 1000000 + 0.5) / 1000000 END AS p_value
    FROM w
    """,
    tags=("stats", "ab-test", "streaming", "incremental"),
)
def q_stats_experiment_stream_serve(spark, sf_dir):
    """INCREMENTAL twin of `stats_two_proportion_z`, exercised as a
    batch-callable query: events are ingested in three micro-batches
    split on pmod(xxhash64(event_id), 3) — so most USERS appear in
    several batches, exercising exactly the property the store exists
    for: per-user conversion bits merge by grouped MAX, never
    double-counting a user.  The SERVED readout over the merged bits is
    returned; the oracle is the plain one-batch SQL — value-hash parity
    proves the idempotent merge serves the batch statistic bit-exactly.
    Store in a process-scoped temp dir (lazy-analyzer lifetime rule, as
    `ml_roc_auc_stream_serve`)."""
    import atexit
    import shutil
    import tempfile

    from ..streaming.experiment_stream import ExperimentStreamMonitor

    ev = load_table(spark, sf_dir, "events")
    store = tempfile.mkdtemp(prefix="exp_serve_")
    atexit.register(shutil.rmtree, store, ignore_errors=True)
    mon = ExperimentStreamMonitor(spark, store)
    for bid in range(3):
        mon.ingest_batch(
            ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == bid), bid
        )
    return mon.serve_readout()


# ---------------------------------------------------------------------------
# Gradient-boosted stumps — exact-arithmetic GBM, fully oracle-checked (r7)
# ---------------------------------------------------------------------------
#
# MLlib's GBT (`ml_gbt_forecast_eval`) is rows-only by design: its split
# search and subsampling are engine-internal.  This is the same algorithm
# class made VALUE-HASH-VERIFIABLE: squared-loss boosting with depth-1
# trees on one integer feature, where every split score derives from
# BIGINT prefix sums — so DuckDB reproduces the whole model bit-for-bit.
#
#   f0        = mean(z)                       (exact ratio of BIGINTs)
#   stump m   = argmin_v SSE_L(v) + SSE_R(v)  (v over the value grid)
#   f_{m}     = f_{m-1} + lr * gamma_side(x)
#
# With z in {0,1}, Σz² = Σz, and residuals r = z − pred are AFFINE in z
# with piecewise-constant coefficients, so per-cell Σr and Σr² are exact
# closed forms of (cnt, Σz) and the broadcast model constants — the split
# scores are identical IEEE expressions on both engines, hence the ARGMIN
# (tiebreak: smallest v) agrees exactly.  The per-round cost is one
# `grid_cumsum` over the bounded value grid; the fact table is scanned
# once to build the grid — the classic histogram-GBM shape (LightGBM's
# binning, here with the exact distinct-value grid).

_GBM_LR = 0.5


@register(
    "ml_boosted_stumps",
    oracle="""
    WITH r AS (
        SELECT n_chars AS x, CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS z
        FROM documents WHERE source IN ('src0', 'src1')
    ), g AS (
        SELECT x, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(z) AS BIGINT) AS sz
        FROM r GROUP BY x
    ), c AS (
        SELECT x, cnt, sz,
               CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT) AS cum_cnt,
               CAST(sum(sz) OVER (ORDER BY x) AS BIGINT) AS cum_sz
        FROM g
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(sz) AS BIGINT) AS szt
        FROM g
    ), s1 AS (
        SELECT c.x AS v1,
               c.cum_cnt AS nl1, c.cum_sz AS szl1,
               t.n, t.szt,
               (c.cum_sz - CAST(c.cum_sz AS DOUBLE) * c.cum_sz / c.cum_cnt)
             + ((t.szt - c.cum_sz)
                - CAST(t.szt - c.cum_sz AS DOUBLE) * (t.szt - c.cum_sz)
                  / (t.n - c.cum_cnt)) AS sse,
               row_number() OVER (ORDER BY
                   (c.cum_sz - CAST(c.cum_sz AS DOUBLE) * c.cum_sz / c.cum_cnt)
                 + ((t.szt - c.cum_sz)
                    - CAST(t.szt - c.cum_sz AS DOUBLE) * (t.szt - c.cum_sz)
                      / (t.n - c.cum_cnt)), c.x) AS rn
        FROM c CROSS JOIN tot t WHERE c.cum_cnt < t.n
    ), m1 AS (
        SELECT v1, n, szt,
               CAST(szt AS DOUBLE) / n AS f0,
               CAST(szl1 AS DOUBLE) / nl1 - CAST(szt AS DOUBLE) / n AS g1l,
               CAST(szt - szl1 AS DOUBLE) / (n - nl1)
                   - CAST(szt AS DOUBLE) / n AS g1r
        FROM s1 WHERE rn = 1
    ), cells AS (
        SELECT c.x, c.cnt, c.sz, c.cum_cnt,
               m1.f0 + 0.5 * (CASE WHEN c.x <= m1.v1 THEN m1.g1l ELSE m1.g1r END)
                   AS p1,
               m1.v1, m1.f0, m1.g1l, m1.g1r, m1.n, m1.szt
        FROM c CROSS JOIN m1
    ), rc AS (
        SELECT x, cnt, cum_cnt, v1, f0, g1l, g1r, n, szt,
               sz * (1.0 - 2.0 * p1) + cnt * p1 * p1 AS s2,
               sz - cnt * p1 AS s1r
        FROM cells
    ), rcum AS (
        SELECT x, cnt, cum_cnt, v1, f0, g1l, g1r, n, szt,
               sum(s1r) OVER (ORDER BY x) AS cum_s1,
               sum(s2) OVER (ORDER BY x) AS cum_s2,
               sum(s1r) OVER () AS tot_s1,
               sum(s2) OVER () AS tot_s2
        FROM rc
    ), s2q AS (
        SELECT x AS v2, v1, f0, g1l, g1r, n, szt, cum_cnt, cum_s1, tot_s1,
               (cum_s2 - cum_s1 * cum_s1 / cum_cnt)
             + ((tot_s2 - cum_s2)
                - (tot_s1 - cum_s1) * (tot_s1 - cum_s1) / (n - cum_cnt)) AS sse,
               row_number() OVER (ORDER BY
                   (cum_s2 - cum_s1 * cum_s1 / cum_cnt)
                 + ((tot_s2 - cum_s2)
                    - (tot_s1 - cum_s1) * (tot_s1 - cum_s1) / (n - cum_cnt)),
                   x) AS rn
        FROM rcum WHERE cum_cnt < n
    ), m2 AS (
        SELECT v1, v2, f0, g1l, g1r, n,
               cum_s1 / cum_cnt AS g2l,
               (tot_s1 - cum_s1) / (n - cum_cnt) AS g2r,
               sse AS sse2
        FROM s2q WHERE rn = 1
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(v1 AS BIGINT) AS split1,
           floor(f0 * 1000000 + 0.5) / 1000000 AS f0,
           floor(0.5 * g1l * 1000000 + 0.5) / 1000000 AS leaf1_l,
           floor(0.5 * g1r * 1000000 + 0.5) / 1000000 AS leaf1_r,
           CAST(v2 AS BIGINT) AS split2,
           floor(0.5 * g2l * 1000000 + 0.5) / 1000000 AS leaf2_l,
           floor(0.5 * g2r * 1000000 + 0.5) / 1000000 AS leaf2_r,
           floor(sse2 / n * 1000000 + 0.5) / 1000000 AS train_mse_proxy
    FROM m2
    """,
    tags=("ml", "boosting", "gbm", "stumps"),
)
def q_ml_boosted_stumps(spark, sf_dir):
    """Two rounds of squared-loss gradient boosting with depth-1 stumps on
    document length (predicting src1 membership), lr = 0.5 — the
    histogram-GBM algorithm made fully ORACLE-CHECKED: every split score
    is a closed form of BIGINT prefix sums over the value grid (z∈{0,1}
    ⇒ Σz² = Σz; residuals are affine in z with broadcast piecewise
    constants), so both engines agree bit-wise on every SSE and therefore
    on every argmin.  The per-round work is one `grid_cumsum` over the
    bounded grid; the fact table is scanned once.  train_mse_proxy is the
    stage-2 split's SSE/n — the quantity the NEXT round would shrink.
    Complements the rows-only MLlib GBT (`ml_gbt_forecast_eval`) with a
    verifiable twin of the same algorithm class."""
    r = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    ).select(
        F.col("n_chars").alias("x"),
        F.when(F.col("source") == "src1", 1).otherwise(0).alias("z"),
    )
    g = r.groupBy("x").agg(
        F.count("*").cast("long").alias("cnt"), F.sum("z").cast("long").alias("sz")
    )
    c = grid_cumsum(g, ["cnt", "sz"], order_col="x")
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n"), F.sum("sz").cast("long").alias("szt")
    )
    cj = c.crossJoin(F.broadcast(tot)).filter(F.col("cum_cnt") < F.col("n"))
    sse1 = (
        F.col("cum_sz")
        - F.col("cum_sz").cast("double") * F.col("cum_sz") / F.col("cum_cnt")
    ) + (
        (F.col("szt") - F.col("cum_sz"))
        - (F.col("szt") - F.col("cum_sz")).cast("double")
        * (F.col("szt") - F.col("cum_sz"))
        / (F.col("n") - F.col("cum_cnt"))
    )
    best1 = (
        cj.select(
            F.struct(
                sse1.alias("sse"),
                F.col("x").alias("v1"),
                F.col("cum_cnt").alias("nl1"),
                F.col("cum_sz").alias("szl1"),
                F.col("n").alias("n"),
                F.col("szt").alias("szt"),
            ).alias("s")
        )
        .agg(F.min("s").alias("s"))
        .select("s.*")
    )
    m1 = best1.select(
        "v1",
        "n",
        "szt",
        (F.col("szt").cast("double") / F.col("n")).alias("f0"),
        (
            F.col("szl1").cast("double") / F.col("nl1")
            - F.col("szt").cast("double") / F.col("n")
        ).alias("g1l"),
        (
            (F.col("szt") - F.col("szl1")).cast("double") / (F.col("n") - F.col("nl1"))
            - F.col("szt").cast("double") / F.col("n")
        ).alias("g1r"),
    )
    cells = c.crossJoin(F.broadcast(m1)).withColumn(
        "p1",
        F.col("f0")
        + F.lit(_GBM_LR)
        * F.when(F.col("x") <= F.col("v1"), F.col("g1l")).otherwise(F.col("g1r")),
    )
    rc = cells.select(
        "x",
        "cnt",
        "v1",
        "f0",
        "g1l",
        "g1r",
        "n",
        "szt",
        (F.col("sz") * (F.lit(1.0) - 2.0 * F.col("p1")) + F.col("cnt") * F.col("p1") * F.col("p1")).alias("s2"),
        (F.col("sz") - F.col("cnt") * F.col("p1")).alias("s1r"),
    )
    # second-round cumulative sums: the residual grids are DOUBLE-valued
    # (exact expressions of integers), so reuse grid_cumsum's partitioned
    # shape manually via a per-bucket pattern — the grid is the same
    # bounded distinct-x relation, and the SUM columns being double does
    # not change the bit-identity argument (both engines fold the same
    # per-cell exact values in ascending-x order).
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    rcum = rc.select(
        "x",
        "cnt",
        "v1",
        "f0",
        "g1l",
        "g1r",
        "n",
        "szt",
        F.sum("s1r").over(wx).alias("cum_s1"),
        F.sum("s2").over(wx).alias("cum_s2"),
        F.sum("s1r").over(wall).alias("tot_s1"),
        F.sum("s2").over(wall).alias("tot_s2"),
        F.sum("cnt").over(wx).cast("long").alias("cum_cnt"),
    ).filter(F.col("cum_cnt") < F.col("n"))
    sse2 = (
        F.col("cum_s2") - F.col("cum_s1") * F.col("cum_s1") / F.col("cum_cnt")
    ) + (
        (F.col("tot_s2") - F.col("cum_s2"))
        - (F.col("tot_s1") - F.col("cum_s1"))
        * (F.col("tot_s1") - F.col("cum_s1"))
        / (F.col("n") - F.col("cum_cnt"))
    )
    best2 = (
        rcum.select(
            F.struct(
                sse2.alias("sse2"),
                F.col("x").alias("v2"),
                F.col("cum_s1").alias("cs1"),
                F.col("cum_cnt").alias("nl2"),
                F.col("tot_s1").alias("ts1"),
                F.col("v1"),
                F.col("f0"),
                F.col("g1l"),
                F.col("g1r"),
                F.col("n"),
            ).alias("s")
        )
        .agg(F.min("s").alias("s"))
        .select("s.*")
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return best2.select(
        F.col("n"),
        F.col("v1").alias("split1"),
        canon(F.col("f0")).alias("f0"),
        canon(F.lit(_GBM_LR) * F.col("g1l")).alias("leaf1_l"),
        canon(F.lit(_GBM_LR) * F.col("g1r")).alias("leaf1_r"),
        F.col("v2").alias("split2"),
        canon(F.lit(_GBM_LR) * (F.col("cs1") / F.col("nl2"))).alias("leaf2_l"),
        canon(
            F.lit(_GBM_LR)
            * ((F.col("ts1") - F.col("cs1")) / (F.col("n") - F.col("nl2")))
        ).alias("leaf2_r"),
        canon(F.col("sse2") / F.col("n")).alias("train_mse_proxy"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b (r10) — concordance from 2D prefix sums on a dense cell grid
# ---------------------------------------------------------------------------

_TAU_YBUCKETS = 50
_TAU_YSTEP = 2000.0


def kendall_tau_grid(
    df: DataFrame,
    grp: str,
    x: F.Column,
    y: F.Column,
    nx: int = 50,
    ny: int = _TAU_YBUCKETS,
) -> DataFrame:
    """Kendall rank correlation (tau-b, tie-corrected) over a bounded
    quantized cell grid — the rank-concordance complement to
    `stats_spearman_corr`, robust to any monotone transform of either
    variable.

    The O(n²) pair enumeration never happens: points collapse to a dense
    nx×ny contingency grid (ONE scan, one grouped count), and
    concordant / discordant pair counts come from 2D PREFIX SUMS on that
    grid — C = Σ_cell n_c · P(x−1, y−1) (points strictly below-left),
    D = Σ_cell n_c · (Cx(x−1) − P(x−1, y)) (strictly left, strictly
    above) — each unordered pair counted exactly once at its
    larger-x cell.  Tie terms Tx/Ty are marginal sums.  Everything up to
    the final sqrt is BIGINT-exact, so the oracle matches bit-for-bit;
    within-cell ties are ties BY CONSTRUCTION of the quantization (this
    is the tau of the quantized variables — the statistic a 100 TB scan
    can actually compute in one pass + windows on a 2 500-cell grid).

    Returns (grp, n, concordant, discordant, tau_b)."""
    cells = (
        df.select(F.col(grp).alias("g"), x.alias("x"), y.alias("y"))
        .groupBy("g", "x", "y")
        .agg(F.count("*").cast("long").alias("c"))
    )
    groups = cells.select("g").distinct()
    dense = (
        groups.select(
            "g", F.explode(F.sequence(F.lit(1), F.lit(nx))).alias("x")
        ).select(
            "g", "x", F.explode(F.sequence(F.lit(1), F.lit(ny))).alias("y")
        )
    )
    grid = dense.join(cells, ["g", "x", "y"], "left").select(
        "g", "x", "y", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    wx = Window.partitionBy("g", "y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wy = Window.partitionBy("g", "x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    p = grid.withColumn("cumx", F.sum("c").over(wx)).withColumn(
        "p", F.sum("cumx").over(wy)
    )
    colsum = p.groupBy("g", "x").agg(F.sum("c").cast("long").alias("tx"))
    wcx = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cx = colsum.withColumn("cumcx", F.sum("tx").over(wcx))
    p = p.localCheckpoint(eager=False)
    shifted = p.select(
        "g",
        (F.col("x") + 1).alias("x"),
        (F.col("y") + 1).alias("y"),
        F.col("p").alias("p_belowleft"),
    )
    shifted_same_y = p.select(
        "g", (F.col("x") + 1).alias("x"), "y", F.col("p").alias("p_left_upto_y")
    )
    cx_shift = cx.select("g", (F.col("x") + 1).alias("x"), F.col("cumcx").alias("n_left"))
    scored = (
        p.filter(F.col("c") > 0)
        .join(shifted, ["g", "x", "y"], "left")
        .join(shifted_same_y, ["g", "x", "y"], "left")
        .join(cx_shift, ["g", "x"], "left")
        .select(
            "g",
            "c",
            "x",
            "y",
            F.coalesce("p_belowleft", F.lit(0)).alias("bl"),
            (
                F.coalesce("n_left", F.lit(0))
                - F.coalesce("p_left_upto_y", F.lit(0))
            ).alias("al"),
        )
    )
    agg = scored.groupBy("g").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("bl")).cast("long").alias("concordant"),
        F.sum(F.col("c") * F.col("al")).cast("long").alias("discordant"),
    )
    tiex = colsum.groupBy("g").agg(
        F.sum(F.col("tx") * (F.col("tx") - 1) / 2).cast("long").alias("tiex")
    )
    rowsum = grid.groupBy("g", "y").agg(F.sum("c").cast("long").alias("ty"))
    tiey = rowsum.groupBy("g").agg(
        F.sum(F.col("ty") * (F.col("ty") - 1) / 2).cast("long").alias("tiey")
    )
    out = agg.join(tiex, "g").join(tiey, "g")
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    return out.select(
        F.col("g").alias(grp),
        "n",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                (n0 - F.col("tiex")).cast("double")
                * (n0 - F.col("tiey")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


_TAU_ORACLE = f"""
WITH pts AS (
    SELECT l_returnflag AS g,
           CAST(l_quantity AS BIGINT) AS x,
           least(CAST(floor(l_extendedprice / {_TAU_YSTEP}) AS BIGINT) + 1,
                 {_TAU_YBUCKETS}) AS y
    FROM lineitem
), cells AS MATERIALIZED (
    SELECT g, x, y, CAST(count(*) AS BIGINT) AS c FROM pts GROUP BY g, x, y
), dense AS (
    SELECT g, CAST(xs.range AS BIGINT) AS x, CAST(ys.range AS BIGINT) AS y
    FROM (SELECT DISTINCT g FROM cells)
    CROSS JOIN range(1, 51) xs CROSS JOIN range(1, {_TAU_YBUCKETS + 1}) ys
), grid AS MATERIALIZED (
    SELECT d.g, d.x, d.y, coalesce(c.c, 0) AS c
    FROM dense d LEFT JOIN cells c ON d.g = c.g AND d.x = c.x AND d.y = c.y
), p AS MATERIALIZED (
    SELECT g, x, y, c,
           CAST(sum(cumx) OVER (PARTITION BY g, x ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
    FROM (
        SELECT g, x, y, c,
               sum(c) OVER (PARTITION BY g, y ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumx
        FROM grid)
), colsum AS MATERIALIZED (
    SELECT g, x, CAST(sum(c) AS BIGINT) AS tx,
           CAST(sum(sum(c)) OVER (PARTITION BY g ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumcx
    FROM grid GROUP BY g, x
), scored AS (
    SELECT b.g, b.c,
           coalesce(bl.p, 0) AS bl,
           coalesce(cs.cumcx, 0) - coalesce(ly.p, 0) AS al
    FROM p b
    LEFT JOIN p bl ON bl.g = b.g AND bl.x = b.x - 1 AND bl.y = b.y - 1
    LEFT JOIN p ly ON ly.g = b.g AND ly.x = b.x - 1 AND ly.y = b.y
    LEFT JOIN colsum cs ON cs.g = b.g AND cs.x = b.x - 1
    WHERE b.c > 0
), agg AS (
    SELECT g, CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(c * bl) AS BIGINT) AS concordant,
           CAST(sum(c * al) AS BIGINT) AS discordant
    FROM scored GROUP BY g
), tx AS (
    SELECT g, CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS tiex
    FROM colsum GROUP BY g
), ty AS (
    SELECT g, CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS tiey FROM (
        SELECT g, y, CAST(sum(c) AS BIGINT) AS ty FROM grid GROUP BY g, y)
    GROUP BY g
)
SELECT a.g AS l_returnflag, a.n, a.concordant, a.discordant,
       round(CAST(a.concordant - a.discordant AS DOUBLE)
             / sqrt(CAST(a.n * (a.n - 1) // 2 - tx.tiex AS DOUBLE)
                    * CAST(a.n * (a.n - 1) // 2 - ty.tiey AS DOUBLE)), 6)
           AS tau_b
FROM agg a JOIN tx ON tx.g = a.g JOIN ty ON ty.g = a.g
"""


@register(
    "stats_kendall_tau_grid",
    oracle=_TAU_ORACLE,
    tags=("stats", "correlation", "rank"),
)
def q_stats_kendall_tau_grid(spark, sf_dir):
    """Kendall tau-b between order quantity and extended price per
    returnflag — concordant/discordant pair counts from 2D prefix sums
    over the dense 50×50 quantized grid (never an O(n²) pair join),
    tie-corrected by the grid marginals, BIGINT-exact until the final
    sqrt.  The GRID-SCALE twin of `stats_kendall_tau` (r5): that one
    joins the per-key daily grid pairwise (fine at tens of rows per key);
    this one handles millions of points per group, where any pair join
    dies, in one scan + windows on 2 500 cells."""
    li = load_table(spark, sf_dir, "lineitem")
    return kendall_tau_grid(
        li,
        "l_returnflag",
        F.col("l_quantity").cast("long"),
        F.least(
            F.floor(F.col("l_extendedprice") / _TAU_YSTEP).cast("long") + 1,
            F.lit(_TAU_YBUCKETS).cast("long"),
        ),
    )


# ---------------------------------------------------------------------------
# McNemar's paired test (r10) — is the langid gate better than the majority
# class on the SAME documents?
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    from .text import _LANGID_SCORED_SQL  # noqa: PLC0415

    z = "(CAST(a_only - b_only AS DOUBLE) / sqrt(CAST(a_only + b_only AS DOUBLE)))"
    chi2 = "(CAST((a_only - b_only) * (a_only - b_only) AS DOUBLE) / CAST(a_only + b_only AS DOUBLE))"
    canon = lambda e: f"floor({e} * 1000000 + 0.5) / 1000000"  # noqa: E731
    return (
        _LANGID_SCORED_SQL
        + f""",
    pairs AS (
        SELECT (list_max(scores)['lang'] = labeled_lang) AS a_right,
               (labeled_lang = 'en') AS b_right
        FROM scored
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a_right AND b_right THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
               CAST(sum(CASE WHEN NOT a_right AND NOT b_right THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong,
               CAST(sum(CASE WHEN a_right AND NOT b_right THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
               CAST(sum(CASE WHEN NOT a_right AND b_right THEN 1 ELSE 0 END) AS BIGINT) AS b_only
        FROM pairs
    )
    SELECT n, both_right, both_wrong, a_only, b_only,
           CASE WHEN a_only + b_only > 0 THEN {canon(chi2)} END AS mcnemar_chi2,
           CASE WHEN a_only + b_only > 0 THEN {canon(z)} END AS z,
           CASE WHEN a_only + b_only > 0
                THEN {canon(p_two_sided_sql(z))} END AS p_value
    FROM agg
    """
    )


@register(
    "stats_mcnemar_langid",
    oracle=_mcnemar_oracle(),
    tags=("stats", "paired", "eval", "langid"),
)
def q_stats_mcnemar_langid(spark, sf_dir):
    """McNemar's test on paired per-document correctness: classifier A =
    the marker-word langid, classifier B = the majority-class baseline
    (always 'en'), both judged against the gold `lang` label on the SAME
    documents.  Unpaired accuracy comparison wastes the pairing; McNemar
    uses only the DISCORDANT counts b (A right, B wrong) and c (A wrong,
    B right): chi2 = (b−c)²/(b+c), z = (b−c)/√(b+c), two-sided p via the
    shared A&S 7.1.26 polynomial (NULL when b+c = 0).  All counts BIGINT
    from one scan of the langid projection; the statistic is one
    fixed-shape IEEE expression — fully value-hash-checked."""
    from .text import langid_scores  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    scored = langid_scores(docs).select(
        (F.col("predicted_lang") == F.col("labeled_lang")).alias("a_right"),
        (F.col("labeled_lang") == "en").alias("b_right"),
    )
    agg = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("a_right") & F.col("b_right"), 1).otherwise(0))
        .cast("long")
        .alias("both_right"),
        F.sum(F.when(~F.col("a_right") & ~F.col("b_right"), 1).otherwise(0))
        .cast("long")
        .alias("both_wrong"),
        F.sum(F.when(F.col("a_right") & ~F.col("b_right"), 1).otherwise(0))
        .cast("long")
        .alias("a_only"),
        F.sum(F.when(~F.col("a_right") & F.col("b_right"), 1).otherwise(0))
        .cast("long")
        .alias("b_only"),
    )
    bc = (F.col("a_only") + F.col("b_only")).cast("double")
    z = F.when(
        F.col("a_only") + F.col("b_only") > 0,
        (F.col("a_only") - F.col("b_only")).cast("double") / F.sqrt(bc),
    )
    chi2 = F.when(
        F.col("a_only") + F.col("b_only") > 0,
        ((F.col("a_only") - F.col("b_only"))
         * (F.col("a_only") - F.col("b_only"))).cast("double") / bc,
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return agg.select(
        "n",
        "both_right",
        "both_wrong",
        "a_only",
        "b_only",
        canon(chi2).alias("mcnemar_chi2"),
        canon(z).alias("z"),
        canon(p_two_sided(z)).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (r10) — the pre-period covariate adjustment every
# experimentation platform runs (Deng et al., WSDM 2013 — public)
# ---------------------------------------------------------------------------


@register(
    "stats_cuped_adjustment",
    oracle="""
    WITH b AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ), u AS (
        SELECT (user_id % 2) AS cohort, user_id,
               CAST(sum(CASE WHEN epoch_us(ts) < lo + (hi - lo) // 2
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(max(CASE WHEN epoch_us(ts) >= lo + (hi - lo) // 2
                              AND event_type = 'purchase' AND value >= 200.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events CROSS JOIN b
        GROUP BY cohort, user_id
    ), th AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM u
    ), co AS (
        SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
               CAST(sx AS DOUBLE) / n AS xbar
        FROM th
    ), adj AS (
        SELECT u.cohort, u.y,
               CAST(floor((u.y - co.theta * (u.x - co.xbar)) * 1000 + 0.5)
                    AS BIGINT) AS m
        FROM u CROSS JOIN co
    )
    SELECT cohort,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
               AS conv_rate,
           round(CAST(sum(m) AS BIGINT) / (1000.0 * count(*)), 6)
               AS adj_mean,
           round((CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE))
                 * (1.0 - CAST(sum(y) AS BIGINT) / CAST(count(*) AS DOUBLE)),
                 6) AS var_raw,
           round((CAST(sum(m * m) AS BIGINT) / CAST(count(*) AS DOUBLE)
                  - (CAST(sum(m) AS BIGINT) / CAST(count(*) AS DOUBLE))
                    * (CAST(sum(m) AS BIGINT) / CAST(count(*) AS DOUBLE)))
                 / 1000000.0, 6) AS var_adj,
           round((SELECT theta FROM co), 6) AS theta
    FROM adj GROUP BY cohort
    """,
    tags=("stats", "experiment", "cuped", "variance-reduction"),
)
def q_stats_cuped_adjustment(spark, sf_dir):
    """CUPED covariate adjustment for the A/B conversion readout
    (`stats_two_proportion_z`'s cohorts): per user, the PRE-period
    activity count is the covariate X, the POST-period high-value
    conversion bit is the outcome Y; Yadj = Y − θ(X − X̄) with the pooled
    θ = cov(X,Y)/var(X) — the standard variance-reduction step that
    shrinks experiment confidence intervals using only pre-experiment
    data (Deng et al. 2013), so the same traffic detects smaller lifts.

    Bit-parity: X and Y are BIGINT; θ and X̄ are single exact-ratio
    divisions; per-user adjusted outcomes quantize to milli-units before
    the cohort sums (aggregation-order-immune — milli keeps m² sums
    inside BIGINT at 1e5+ users); raw variance is the exact Bernoulli
    p(1−p).  Shape: one user-grid agg, a 1-row broadcast model, one
    cohort agg — the period split needs only the global (min, max) ts."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    mid = F.col("lo") + F.floor((F.col("hi") - F.col("lo")) / 2).cast("long")
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy((F.col("user_id") % 2).alias("cohort"), F.col("user_id"))
        .agg(
            F.sum(F.when(F.unix_micros("ts") < mid, 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.max(
                F.when(
                    (F.unix_micros("ts") >= mid)
                    & (F.col("event_type") == "purchase")
                    & (F.col("value") >= 200.0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    th = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    co = th.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("xbar"),
    )
    adj = u.crossJoin(F.broadcast(co)).select(
        "cohort",
        "y",
        "theta",
        F.floor(
            (F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))) * 1000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("m"),
    )
    p = F.sum("y").cast("long") / F.count("*").cast("double")
    return adj.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_users"),
        F.round(p, 6).alias("conv_rate"),
        F.round(F.sum("m").cast("long") / (F.lit(1000.0) * F.count("*")), 6).alias(
            "adj_mean"
        ),
        F.round(p * (F.lit(1.0) - p), 6).alias("var_raw"),
        F.round(
            (
                F.sum(F.col("m") * F.col("m")).cast("long")
                / F.count("*").cast("double")
                - (F.sum("m").cast("long") / F.count("*").cast("double"))
                * (F.sum("m").cast("long") / F.count("*").cast("double"))
            )
            / F.lit(1000000.0),
            6,
        ).alias("var_adj"),
        F.round(F.max("theta"), 6).alias("theta"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H — k-sample rank ANOVA over the distinct-value grid
# ---------------------------------------------------------------------------


@register(
    "stats_kruskal_wallis",
    oracle="""
    WITH tagged AS (
        SELECT o.o_orderpriority AS grp, CAST(l.l_quantity AS BIGINT) AS v
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), g AS (
        SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM tagged GROUP BY v
    ), c AS (
        SELECT v, cnt,
               CAST(COALESCE(sum(cnt) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cumbefore
        FROM g
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        FROM g
    ), gv AS (
        SELECT grp, v, CAST(count(*) AS BIGINT) AS n_gv FROM tagged GROUP BY grp, v
    ), rs AS (
        SELECT gv.grp,
               CAST(sum(gv.n_gv) AS BIGINT) AS n_g,
               CAST(sum(gv.n_gv * (2 * c.cumbefore + c.cnt + 1)) AS BIGINT) AS r2
        FROM gv JOIN c ON c.v = gv.v
        GROUP BY gv.grp
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(floor(
                   3.0 * CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                   / CAST(n_g AS DOUBLE)
                   / (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) + 1.0))
                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
               max(t.n) AS n, max(t.ties) AS ties
        FROM rs CROSS JOIN tot t
    ), h AS (
        SELECT k, n,
               CAST(sq AS DOUBLE) / 1000000.0
                 - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_raw,
               1.0 - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)) AS tie_c
        FROM s
    )
    SELECT rs.grp AS grp, rs.n_g AS n_g,
           CAST(rs.r2 AS DOUBLE) / 2.0 AS rank_sum,
           floor(CAST(rs.r2 AS DOUBLE) / (2.0 * rs.n_g) * 1000000 + 0.5)
             / 1000000 AS mean_rank,
           h.k AS k, h.n AS n,
           floor(h.h_raw / h.tie_c * 1000000 + 0.5) / 1000000 AS h_adj,
           CASE WHEN h.k = 5 THEN
               floor(exp(-(h.h_raw / h.tie_c) / 2.0)
                     * (1.0 + (h.h_raw / h.tie_c) / 2.0)
                     * 1000000 + 0.5) / 1000000
           END AS p_value
    FROM rs CROSS JOIN h
    """,
    tags=("stats", "rank", "anova", "kruskal-wallis"),
)
def q_stats_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H — the k-sample rank ANOVA (does l_quantity's
    distribution differ across the 5 order priorities?), tie-corrected,
    with the closed-form chi-square survival p for df = 4 (even df: Q(x) =
    e^{-x/2}·Σ_{j<m}(x/2)^j/j!, elementary — no incomplete-gamma needed).

    INTEGER-EXACT on the `stats_mann_whitney` grid plan: midranks come
    from the 50-row distinct-quantity grid (2·midrank = 2·cum_before +
    cnt + 1, BIGINT), doubled rank sums R2_g = Σ_v n_gv·(2·cum+cnt+1)
    stay integral, and the tie term Σ(t³−t) is integral.  The one
    order-sensitive float reduction — Σ_g R²_g-terms — quantizes each
    group's fixed-shape double contribution to integer micro-units before
    the 5-row sum (the CUPED/pinball convention), so both engines agree
    bit-wise.  Scale: two grouped aggs over (value) and (group, value)
    grids + a 50-row broadcast join; the rank window runs over distinct
    VALUES, never rows.  Output: one row per group carrying its rank sum
    beside the shared (h_adj, p) verdict."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    tagged = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    g = tagged.groupBy("v").agg(F.count("*").cast("long").alias("cnt"))
    c = grid_cumsum(g, ["cnt"]).select(
        "v", "cnt", (F.col("cum_cnt") - F.col("cnt")).cast("long").alias("cumbefore")
    )
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties"),
    )
    gv = tagged.groupBy("grp", "v").agg(F.count("*").cast("long").alias("n_gv"))
    rs = (
        gv.join(F.broadcast(c), "v")
        .groupBy("grp")
        .agg(
            F.sum("n_gv").cast("long").alias("n_g"),
            F.sum(
                F.col("n_gv") * (2 * F.col("cumbefore") + F.col("cnt") + 1)
            )
            .cast("long")
            .alias("r2"),
        )
        .localCheckpoint(eager=False)
    )
    nd = F.col("n").cast("double")
    contrib = (
        F.lit(3.0)
        * F.col("r2").cast("double")
        * F.col("r2").cast("double")
        / F.col("n_g").cast("double")
        / (nd * (nd + F.lit(1.0)))
    )
    s = (
        rs.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.count("*").cast("long").alias("k"),
            F.sum(F.floor(contrib * 1000000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("sq"),
            F.max("n").alias("n"),
            F.max("ties").alias("ties"),
        )
    )
    h_raw = F.col("sq").cast("double") / F.lit(1000000.0) - F.lit(3.0) * (
        F.col("n").cast("double") + F.lit(1.0)
    )
    n3 = (
        F.col("n").cast("double") * F.col("n").cast("double") * F.col("n").cast("double")
    )
    tie_c = F.lit(1.0) - F.col("ties").cast("double") / (n3 - F.col("n").cast("double"))
    h = s.select("k", "n", h_raw.alias("h_raw"), tie_c.alias("tie_c"))
    ha = F.col("h_raw") / F.col("tie_c")
    x = ha / F.lit(2.0)
    p4 = F.exp(-x) * (F.lit(1.0) + x)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return rs.crossJoin(F.broadcast(h)).select(
        "grp",
        "n_g",
        (F.col("r2").cast("double") / F.lit(2.0)).alias("rank_sum"),
        canon(F.col("r2").cast("double") / (F.lit(2.0) * F.col("n_g"))).alias(
            "mean_rank"
        ),
        "k",
        "n",
        canon(ha).alias("h_adj"),
        F.when(F.col("k") == 5, canon(p4)).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Anderson-Darling normality audit — per-priority order totals
# ---------------------------------------------------------------------------


@register(
    "stats_anderson_darling",
    oracle=f"""
    WITH d AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        FROM orders
    ), m AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS DOUBLE) AS s2d
        FROM d GROUP BY grp
    ), mm AS (
        SELECT grp, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((s2d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                    / (n - 1)) AS sigma
        FROM m
    ), z AS (
        SELECT d.grp, mm.n,
               CAST(row_number() OVER (PARTITION BY d.grp ORDER BY d.c)
                    AS BIGINT) AS i,
               (CAST(d.c AS DOUBLE) - mm.mu) / mm.sigma AS zv
        FROM d JOIN mm ON mm.grp = d.grp
    ), t AS (
        SELECT grp, n, i,
               {{p2}} AS p2, zv
        FROM z
    ), q AS (
        SELECT grp, n,
               CAST(floor(
                   ((2 * i - 1) * ln(CASE WHEN zv >= 0
                                          THEN 1.0 - p2 / 2.0
                                          ELSE p2 / 2.0 END)
                    + (2 * (n - i) + 1) * ln(CASE WHEN zv >= 0
                                                  THEN p2 / 2.0
                                                  ELSE 1.0 - p2 / 2.0 END))
                   * 1000000 + 0.5) AS BIGINT) AS tq
        FROM t
    ), s AS (
        SELECT grp, max(n) AS n, CAST(sum(tq) AS DOUBLE) AS sq
        FROM q GROUP BY grp
    )
    SELECT grp, n,
           floor((-CAST(n AS DOUBLE) - sq / (CAST(n AS DOUBLE) * 1000000.0))
                 * 1000000 + 0.5) / 1000000 AS a2,
           floor((-CAST(n AS DOUBLE) - sq / (CAST(n AS DOUBLE) * 1000000.0))
                 * (1.0 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n))
                 * 1000000 + 0.5) / 1000000 AS a2_star,
           ((-CAST(n AS DOUBLE) - sq / (CAST(n AS DOUBLE) * 1000000.0))
            * (1.0 + 0.75 / n + 2.25 / (CAST(n AS DOUBLE) * n))) > 0.787
               AS reject_normal_5pct
    FROM s
    """.replace("{p2}", p_two_sided_sql("zv")),
    tags=("stats", "normality", "anderson-darling", "gof"),
)
def q_stats_anderson_darling(spark, sf_dir):
    """Anderson-Darling A² normality audit of o_totalprice per order
    priority (case 3: mean and variance estimated from the sample, with
    Stephens' small-sample factor and the 0.787 5%% critical value) — the
    tail-weighted goodness-of-fit gate that catches departures the KS
    supremum under-weights.  A² = −n − (1/n)Σ_i[(2i−1)lnΦ(z_i) +
    (2(n−i)+1)ln(1−Φ(z_i))] over the within-group sort order.

    Bit-parity: moments are exact (BIGINT cent sums; Σc² exact integer
    rendered to double identically by both engines); σ is ONE sqrt of a
    fixed-shape expression; Φ is the shared A&S 7.1.26 erf polynomial
    (`p_two_sided`), with the tail side computed as p/2 directly so
    ln(1−Φ) keeps precision at extreme z; each row's fixed-shape term is
    quantized to integer micro-units before the per-group sum (the
    CUPED/pinball convention), so aggregation order cannot drift.  Tied
    values get equal z, and the (2i−1)-weight sum over a tied block is
    order-invariant, so row_number needs no tiebreak.  Scale: one grouped
    agg for moments + one partitioned sort window — embarrassingly
    parallel across groups at any n."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    m = d.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).cast("double").alias("s2d"),
    )
    nd = F.col("n").cast("double")
    mm = m.select(
        "grp",
        "n",
        (F.col("s1").cast("double") / nd).alias("mu"),
        F.sqrt(
            (F.col("s2d") - F.col("s1").cast("double") * F.col("s1").cast("double") / nd)
            / (nd - F.lit(1.0))
        ).alias("sigma"),
    )
    z = d.join(F.broadcast(mm), "grp").select(
        "grp",
        "n",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("c"))
        .cast("long")
        .alias("i"),
        ((F.col("c").cast("double") - F.col("mu")) / F.col("sigma")).alias("zv"),
    )
    p2 = p_two_sided(F.col("zv"))
    pos = F.col("zv") >= 0
    ln_phi = F.log(F.when(pos, F.lit(1.0) - p2 / 2).otherwise(p2 / 2))
    ln_omphi = F.log(F.when(pos, p2 / 2).otherwise(F.lit(1.0) - p2 / 2))
    term = (2 * F.col("i") - 1).cast("double") * ln_phi + (
        2 * (F.col("n") - F.col("i")) + 1
    ).cast("double") * ln_omphi
    q = z.select(
        "grp",
        "n",
        F.floor(term * 1000000 + F.lit(0.5)).cast("long").alias("tq"),
    )
    s = q.groupBy("grp").agg(
        F.max("n").alias("n"), F.sum("tq").cast("double").alias("sq")
    )
    nd2 = F.col("n").cast("double")
    a2 = -nd2 - F.col("sq") / (nd2 * F.lit(1000000.0))
    a2s = a2 * (F.lit(1.0) + F.lit(0.75) / F.col("n") + F.lit(2.25) / (nd2 * F.col("n")))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        "grp",
        "n",
        canon(a2).alias("a2"),
        canon(a2s).alias("a2_star"),
        (a2s > F.lit(0.787)).alias("reject_normal_5pct"),
    )


# ---------------------------------------------------------------------------
# Brier score + Murphy decomposition of the Newton domain classifier
# ---------------------------------------------------------------------------


@register(
    "ml_brier_decomposition",
    oracle=_LOGISTIC_CTE_SQL
    + r"""
    , scored AS (
        SELECT CAST(d.z AS BIGINT) AS zq,
               CAST(floor(1.0 / (1.0 + exp(-((c0 + d0) + (c1 + d1)*x1
                                             + (c2 + d2)*x2)))
                          * 1000000 + 0.5) AS BIGINT) AS pq
        FROM d CROSS JOIN fin
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(zq) AS BIGINT) AS sz,
               CAST(sum((pq - zq * 1000000) * (pq - zq * 1000000))
                    AS BIGINT) AS bnum
        FROM scored
    ), bins AS (
        SELECT least(pq // 100000, 9) AS bin,
               CAST(count(*) AS BIGINT) AS n_k,
               CAST(sum(zq) AS BIGINT) AS sz_k,
               CAST(sum(pq) AS BIGINT) AS spq_k
        FROM scored GROUP BY least(pq // 100000, 9)
    ), comp AS (
        SELECT CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(CAST(floor(
                   (CAST(spq_k AS DOUBLE) - 1000000.0 * sz_k)
                   * (CAST(spq_k AS DOUBLE) - 1000000.0 * sz_k)
                   / (CAST(n_k AS DOUBLE) * 1e12)
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS rel_q,
               CAST(sum(CAST(floor(
                   (CAST(sz_k AS DOUBLE) * t.n - CAST(t.sz AS DOUBLE) * n_k)
                   * (CAST(sz_k AS DOUBLE) * t.n - CAST(t.sz AS DOUBLE) * n_k)
                   / (CAST(n_k AS DOUBLE) * CAST(t.n AS DOUBLE) * t.n)
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS res_q,
               max(t.n) AS n, max(t.sz) AS sz, max(t.bnum) AS bnum
        FROM bins CROSS JOIN tot t
    )
    SELECT n, n_bins,
           floor(CAST(bnum AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)
                 * 1000000 + 0.5) / 1000000 AS brier,
           floor(CAST(rel_q AS DOUBLE) / (1e9 * n) * 1000000 + 0.5)
             / 1000000 AS reliability,
           floor(CAST(res_q AS DOUBLE) / (1e9 * n) * 1000000 + 0.5)
             / 1000000 AS resolution,
           floor((CAST(sz AS DOUBLE) / n) * (1.0 - CAST(sz AS DOUBLE) / n)
                 * 1000000 + 0.5) / 1000000 AS uncertainty,
           floor((CAST(bnum AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)
                  - (CAST(rel_q AS DOUBLE) / (1e9 * n)
                     - CAST(res_q AS DOUBLE) / (1e9 * n)
                     + (CAST(sz AS DOUBLE) / n)
                       * (1.0 - CAST(sz AS DOUBLE) / n)))
                 * 1000000 + 0.5) / 1000000 AS within_bin_residual
    FROM comp
    """,
    tags=("ml", "calibration", "brier", "classifier"),
)
def q_ml_brier_decomposition(spark, sf_dir):
    """Brier score of the Newton domain classifier with the Murphy
    decomposition over probability deciles: BRIER = RELIABILITY −
    RESOLUTION + UNCERTAINTY (+ a within-bin residual, nonzero because p
    varies inside a bin — reported, not hidden).  The one-number proper
    scoring companion to `ml_calibration_bins`' reliability diagram,
    sharing the exact training chain (`_logistic_coeffs` /
    `_LOGISTIC_CTE_SQL`) so all three classifier audits grade the same
    model.

    Bit-parity: scores quantize to integer micro-units per row FIRST, so
    every sum (Brier numerator Σ(pq−z·1e6)², bin tallies) is integer
    arithmetic; bins derive from the quantized score (pq // 1e5), never
    the raw double; the 10-bin REL/RES reductions quantize each bin's
    fixed-shape term to nano-units before summing.  Scale: one scan to
    score (1-row broadcast model), one 10-row grouped agg — the decomposition
    itself is O(bins)."""
    d = _logistic_rows(spark, sf_dir)
    coeffs = _logistic_coeffs(d).select("w0", "w1", "w2")
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")))
    )
    scored = d.crossJoin(F.broadcast(coeffs)).select(
        F.col("z").cast("long").alias("zq"),
        F.floor(p * 1000000 + F.lit(0.5)).cast("long").alias("pq"),
    ).localCheckpoint(eager=False)
    diff = F.col("pq") - F.col("zq") * 1000000
    tot = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("zq").cast("long").alias("sz"),
        F.sum(diff * diff).cast("long").alias("bnum"),
    )
    bins = scored.groupBy(
        F.least(F.floor(F.col("pq") / 100000), F.lit(9)).cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n_k"),
        F.sum("zq").cast("long").alias("sz_k"),
        F.sum("pq").cast("long").alias("spq_k"),
    )
    a = F.col("spq_k").cast("double") - F.lit(1000000.0) * F.col("sz_k")
    rel_t = a * a / (F.col("n_k").cast("double") * F.lit(1e12))
    c = F.col("sz_k").cast("double") * F.col("n") - F.col("sz").cast("double") * F.col(
        "n_k"
    )
    res_t = c * c / (
        F.col("n_k").cast("double") * F.col("n").cast("double") * F.col("n")
    )
    comp = (
        bins.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.count("*").cast("long").alias("n_bins"),
            F.sum(F.floor(rel_t * 1e9 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("rel_q"),
            F.sum(F.floor(res_t * 1e9 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("res_q"),
            F.max("n").alias("n"),
            F.max("sz").alias("sz"),
            F.max("bnum").alias("bnum"),
        )
    )
    nd = F.col("n").cast("double")
    brier = F.col("bnum").cast("double") / (nd * F.lit(1e12))
    rel = F.col("rel_q").cast("double") / (F.lit(1e9) * F.col("n"))
    res = F.col("res_q").cast("double") / (F.lit(1e9) * F.col("n"))
    obar = F.col("sz").cast("double") / F.col("n")
    unc = obar * (F.lit(1.0) - obar)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return comp.select(
        "n",
        "n_bins",
        canon(brier).alias("brier"),
        canon(rel).alias("reliability"),
        canon(res).alias("resolution"),
        canon(unc).alias("uncertainty"),
        canon(brier - (rel - res + unc)).alias("within_bin_residual"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank — paired before/after shift test per user
# ---------------------------------------------------------------------------


@register(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH bounds AS (
        SELECT epoch_us(min(date_trunc('microseconds', ts)))
               + (epoch_us(max(date_trunc('microseconds', ts)))
                  - epoch_us(min(date_trunc('microseconds', ts)))) // 2 AS mid
        FROM events
    ), halves AS (
        SELECT user_id,
               CASE WHEN epoch_us(date_trunc('microseconds', ts))
                         <= (SELECT mid FROM bounds) THEN 0 ELSE 1 END AS half,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
        FROM events
    ), m AS (
        SELECT user_id, half,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS mean_q
        FROM halves GROUP BY user_id, half
    ), d AS (
        SELECT a.user_id, (b.mean_q - a.mean_q) AS d
        FROM m a JOIN m b ON b.user_id = a.user_id AND a.half = 0 AND b.half = 1
        WHERE b.mean_q <> a.mean_q
    ), g AS (
        SELECT abs(d) AS a, CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(*) FILTER (WHERE d > 0) AS BIGINT) AS pos
        FROM d GROUP BY abs(d)
    ), c AS (
        SELECT a, cnt, pos,
               CAST(COALESCE(sum(cnt) OVER (
                   ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cumbefore
        FROM g
    ), s AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(pos * (2 * cumbefore + cnt + 1)) AS BIGINT) AS w2p,
               CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        FROM c
    )
    SELECT n,
           CAST(w2p AS DOUBLE) / 2.0 AS w_plus,
           CAST(n AS DOUBLE) * (n + 1) / 2.0 - CAST(w2p AS DOUBLE) / 2.0 AS w_minus,
           CAST(n AS DOUBLE) * (n + 1) / 4.0 AS mu,
           floor((CAST(w2p AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)
                 / sqrt((2.0 * n * (n + 1.0) * (2.0 * n + 1.0) - ties) / 12.0)
                 * 1000000 + 0.5) / 1000000 AS z
    FROM s
    """,
    tags=("stats", "rank", "paired", "wilcoxon"),
)
def q_stats_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank — the PAIRED one-sample shift test the panel
    was missing beside Mann-Whitney (independent two-sample) and
    Kruskal-Wallis (k-sample): did each user's mean event value move
    between the first and second half of the observation window?  The
    pairing absorbs between-user level differences that swamp an
    unpaired test.

    INTEGER-EXACT on the shared rank-grid plan: per-(user, half) means
    are micro-quantized BIGINTs (sum of exact micro-units, floored
    integer division — the sums stay < 2^53 so the one double divide is
    IEEE-identical across engines), differences d are BIGINT, zeros drop
    per the classic procedure, midranks of |d| come from the distinct-|d|
    grid (2·midrank = 2·cum_before + cnt + 1), and the doubled positive
    rank sum W2p = Σ pos_a·(2·cum+cnt+1) stays integral, as does the tie
    term Σ(t³−t).  The only floats are the final closed-form moments.
    z uses the tie-corrected normal approximation
    σ² = [2n(n+1)(2n+1) − Σ(t³−t)]/24 on the DOUBLED statistic.

    Scale: one scan of events → per-(user, half) grouped agg → per-user
    join → distinct-|d| grid; the rank cumsum rides `grid_cumsum`
    (range-partitioned, no global single-partition sort).  Output: one
    row with (n, W+, W−, μ, z)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 2).cast(
                "long"
            )
        ).alias("mid")
    )
    halves = ev.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.when(F.unix_micros("ts") <= F.col("mid"), 0).otherwise(1).alias("half"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("v"),
    )
    m = halves.groupBy("user_id", "half").agg(
        F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("mean_q")
    )
    a = m.filter(F.col("half") == 0).select("user_id", F.col("mean_q").alias("m0"))
    bb = m.filter(F.col("half") == 1).select("user_id", F.col("mean_q").alias("m1"))
    d = (
        a.join(bb, "user_id")
        .filter(F.col("m1") != F.col("m0"))
        .select((F.col("m1") - F.col("m0")).alias("d"))
    )
    g = d.groupBy(F.abs("d").alias("a")).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    c = grid_cumsum(g, ["cnt"], order_col="a").select(
        "a", "cnt", "pos", (F.col("cum_cnt") - F.col("cnt")).alias("cumbefore")
    )
    s = c.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pos") * (2 * F.col("cumbefore") + F.col("cnt") + 1))
        .cast("long")
        .alias("w2p"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties"),
    )
    nd = F.col("n").cast("double")
    w2pd = F.col("w2p").cast("double")
    sigma = F.sqrt(
        (
            F.lit(2.0) * nd * (nd + F.lit(1.0)) * (F.lit(2.0) * nd + F.lit(1.0))
            - F.col("ties").cast("double")
        )
        / F.lit(12.0)
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        "n",
        (w2pd / F.lit(2.0)).alias("w_plus"),
        (nd * (nd + F.lit(1.0)) / F.lit(2.0) - w2pd / F.lit(2.0)).alias("w_minus"),
        (nd * (nd + F.lit(1.0)) / F.lit(4.0)).alias("mu"),
        canon((w2pd - nd * (nd + F.lit(1.0)) / F.lit(2.0)) / sigma).alias("z"),
    )


# ---------------------------------------------------------------------------
# Friedman test — blocked rank ANOVA (nation blocks × priority treatments)
# ---------------------------------------------------------------------------


@register(
    "stats_friedman_test",
    oracle="""
    WITH cell AS (
        SELECT c.c_nationkey AS blk, o.o_orderpriority AS trt,
               CAST((CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                          AS HUGEINT) * 1000000)
                    // count(*) AS BIGINT) AS score
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_orderpriority
    ), full_blk AS (
        SELECT blk FROM cell GROUP BY blk
        HAVING count(*) = (SELECT count(DISTINCT trt) FROM cell)
    ), f AS (
        SELECT cell.* FROM cell JOIN full_blk USING (blk)
    ), sc AS (
        SELECT blk, score, CAST(count(*) AS BIGINT) AS cnt FROM f GROUP BY blk, score
    ), rk AS (
        SELECT blk, score, cnt,
               CAST(2 * COALESCE(sum(cnt) OVER (
                   PARTITION BY blk ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + cnt + 1 AS BIGINT) AS r2
        FROM sc
    ), tie AS (
        SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties,
               CAST(count(DISTINCT blk) AS BIGINT) AS b
        FROM sc
    ), tr AS (
        SELECT f.trt,
               CAST(sum(rk.r2) AS BIGINT) AS r2sum,
               CAST(count(*) AS BIGINT) AS b
        FROM f JOIN rk ON rk.blk = f.blk AND rk.score = f.score
        GROUP BY f.trt
    ), q AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(r2sum * r2sum) AS BIGINT) AS ssq,
               max(b) AS b
        FROM tr
    ), stat AS (
        SELECT k, b,
               (3.0 * ssq / (CAST(b AS DOUBLE) * k * (k + 1.0))
                - 3.0 * b * (k + 1.0)) AS q_raw,
               1.0 - CAST((SELECT ties FROM tie) AS DOUBLE)
                     / (CAST(b AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0))
                 AS tie_c
        FROM q
    )
    SELECT tr.trt AS trt, tr.b AS n_blocks,
           CAST(tr.r2sum AS DOUBLE) / 2.0 AS rank_sum,
           floor(CAST(tr.r2sum AS DOUBLE) / (2.0 * tr.b) * 1000000 + 0.5)
             / 1000000 AS mean_rank,
           stat.k AS k,
           floor(stat.q_raw / stat.tie_c * 1000000 + 0.5) / 1000000 AS q_adj,
           CASE WHEN stat.k = 5 THEN
               floor(exp(-(stat.q_raw / stat.tie_c) / 2.0)
                     * (1.0 + (stat.q_raw / stat.tie_c) / 2.0)
                     * 1000000 + 0.5) / 1000000
           END AS p_value
    FROM tr CROSS JOIN stat
    """,
    tags=("stats", "rank", "friedman", "blocked"),
)
def q_stats_friedman_test(spark, sf_dir):
    """Friedman test — the BLOCKED rank ANOVA completing the rank panel
    (Mann-Whitney: 2 independent samples; Kruskal-Wallis: k independent
    samples; Wilcoxon: 2 paired; Friedman: k paired-by-block): do the 5
    order priorities differ in revenue level once the 25 customer-nation
    blocks absorb geographic spend differences?  Each (nation, priority)
    cell is scored by its exact mean order value in micro-cents
    (HUGEINT-safe BIGINT multiply-then-integer-divide — never a lossy
    double product), ranked WITHIN its block with midranks, and
    Q = 12/(b·k·(k+1))·ΣR_j² − 3·b·(k+1) is tie-corrected by
    C = 1 − Σ(t³−t)/(b·k·(k²−1)).  p uses the elementary even-df
    chi-square survival for df = k−1 = 4 (same closed form as
    `stats_kruskal_wallis`).

    INTEGER-EXACT: cell scores, doubled midranks (2·cum_before+cnt+1),
    doubled per-treatment rank sums R2_j, ΣR2_j² and the tie term are all
    BIGINT; the handful of closing floats are single IEEE expressions.
    Incomplete blocks (a nation missing a priority) are dropped whole —
    the classic complete-block design requirement.

    Scale: one orders⋈customer join (customer side broadcastable), one
    grouped agg to the b·k = 125-row cell relation; every window after
    that is partitioned by block over ≤k rows.  Output: one row per
    treatment with its rank sum beside the shared (Q_adj, p) verdict."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    cell = (
        o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy(F.col("c_nationkey").alias("blk"), F.col("o_orderpriority").alias("trt"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("s_cents"),
            F.count("*").cast("long").alias("n_cell"),
        )
    )
    # exact floor((s_cents * 1e6) / n) without a >2^63 product: split
    # s_cents = q*n + r, then score = q*1e6 + floor(r*1e6 / n) — every
    # intermediate stays < 2^63 (r < n, r*1e6 < n*1e6 << 2^53 as double).
    qq = (F.col("s_cents") - (F.col("s_cents") % F.col("n_cell"))) / F.col("n_cell")
    score = (
        qq.cast("long") * 1000000
        + F.floor(
            (F.col("s_cents") % F.col("n_cell")).cast("double")
            * 1000000.0
            / F.col("n_cell").cast("double")
        ).cast("long")
    )
    cell = cell.select("blk", "trt", score.alias("score")).localCheckpoint(eager=False)
    k_all = cell.agg(F.countDistinct("trt").cast("long").alias("k_all"))
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count("*").cast("long").alias("kk"))
        .crossJoin(F.broadcast(k_all))
        .filter(F.col("kk") == F.col("k_all"))
        .select("blk")
    )
    f = cell.join(F.broadcast(full_blk), "blk")
    sc = f.groupBy("blk", "score").agg(F.count("*").cast("long").alias("cnt"))
    w = (
        Window.partitionBy("blk")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = sc.select(
        "blk",
        "score",
        "cnt",
        (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1)
        .cast("long")
        .alias("r2"),
    )
    tie = sc.agg(
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties")
    )
    tr = (
        f.join(rk, ["blk", "score"])
        .groupBy("trt")
        .agg(
            F.sum("r2").cast("long").alias("r2sum"),
            F.count("*").cast("long").alias("b"),
        )
        .localCheckpoint(eager=False)
    )
    q = tr.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("r2sum") * F.col("r2sum")).cast("long").alias("ssq"),
        F.max("b").alias("b"),
    )
    bd = F.col("b").cast("double")
    kd = F.col("k").cast("double")
    q_raw = F.lit(3.0) * F.col("ssq").cast("double") / (
        bd * kd * (kd + F.lit(1.0))
    ) - F.lit(3.0) * bd * (kd + F.lit(1.0))
    stat = (
        q.crossJoin(F.broadcast(tie))
        .select(
            "k",
            q_raw.alias("q_raw"),
            (
                F.lit(1.0)
                - F.col("ties").cast("double") / (bd * kd * (kd * kd - F.lit(1.0)))
            ).alias("tie_c"),
        )
    )
    qa = F.col("q_raw") / F.col("tie_c")
    x = qa / F.lit(2.0)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return tr.crossJoin(F.broadcast(stat)).select(
        "trt",
        F.col("b").alias("n_blocks"),
        (F.col("r2sum").cast("double") / F.lit(2.0)).alias("rank_sum"),
        canon(F.col("r2sum").cast("double") / (F.lit(2.0) * F.col("b"))).alias(
            "mean_rank"
        ),
        "k",
        canon(qa).alias("q_adj"),
        F.when(F.col("k") == 5, canon(F.exp(-x) * (F.lit(1.0) + x))).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Segmented (piecewise-linear) trend — one-knot changepoint regression
# ---------------------------------------------------------------------------


@register(
    "ts_segmented_trend",
    oracle="""
    WITH d AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ), bounds AS (
        SELECT min(day) AS d0, max(day) AS d1 FROM d
    ), g AS (
        SELECT event_type,
               CAST(date_diff('day', (SELECT d0 FROM bounds), day) AS BIGINT) AS t,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY event_type, day
    ), kk AS (
        SELECT CAST(date_diff('day', d0, d1) // 2 AS BIGINT) AS k FROM bounds
    ), m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS s1,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(greatest(t - (SELECT k FROM kk), 0)) AS BIGINT) AS su,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * greatest(t - (SELECT k FROM kk), 0)) AS BIGINT) AS stu,
               CAST(sum(greatest(t - (SELECT k FROM kk), 0)
                        * greatest(t - (SELECT k FROM kk), 0)) AS BIGINT) AS suu,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(t * y) AS BIGINT) AS sty,
               CAST(sum(greatest(t - (SELECT k FROM kk), 0) * y) AS BIGINT) AS suy,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM g GROUP BY event_type
    ), sol AS (
        SELECT event_type, s1, sy, sty, suy, syy,
               (SELECT k FROM kk) AS k,
               (CAST(s1 AS DOUBLE) * (CAST(stt AS DOUBLE) * suu - CAST(stu AS DOUBLE) * stu)
                - CAST(st AS DOUBLE) * (CAST(st AS DOUBLE) * suu - CAST(stu AS DOUBLE) * su)
                + CAST(su AS DOUBLE) * (CAST(st AS DOUBLE) * stu - CAST(stt AS DOUBLE) * su))
                 AS det,
               (CAST(sy AS DOUBLE) * (CAST(stt AS DOUBLE) * suu - CAST(stu AS DOUBLE) * stu)
                - CAST(st AS DOUBLE) * (CAST(sty AS DOUBLE) * suu - CAST(stu AS DOUBLE) * suy)
                + CAST(su AS DOUBLE) * (CAST(sty AS DOUBLE) * stu - CAST(stt AS DOUBLE) * suy))
                 AS det0,
               (CAST(s1 AS DOUBLE) * (CAST(sty AS DOUBLE) * suu - CAST(suy AS DOUBLE) * stu)
                - CAST(sy AS DOUBLE) * (CAST(st AS DOUBLE) * suu - CAST(stu AS DOUBLE) * su)
                + CAST(su AS DOUBLE) * (CAST(st AS DOUBLE) * suy - CAST(sty AS DOUBLE) * su))
                 AS det1,
               (CAST(s1 AS DOUBLE) * (CAST(stt AS DOUBLE) * suy - CAST(stu AS DOUBLE) * sty)
                - CAST(st AS DOUBLE) * (CAST(st AS DOUBLE) * suy - CAST(sty AS DOUBLE) * su)
                + CAST(sy AS DOUBLE) * (CAST(st AS DOUBLE) * stu - CAST(stt AS DOUBLE) * su))
                 AS det2
        FROM m
    )
    SELECT event_type, s1 AS n_days, k AS knot_day,
           round(det0 / det / 1000.0, 6) AS b0,
           round(det1 / det / 1000.0, 6) AS slope_pre,
           round(det2 / det / 1000.0, 6) AS slope_change,
           round((det1 + det2) / det / 1000.0, 6) AS slope_post,
           round(sqrt(greatest(
               (CAST(syy AS DOUBLE)
                - (det0 / det) * sy - (det1 / det) * sty - (det2 / det) * suy)
               / s1, 0.0)) / 1000.0, 6) AS rmse
    FROM sol ORDER BY event_type
    """,
    tags=("timeseries", "trend", "changepoint", "regression"),
)
def q_ts_segmented_trend(spark, sf_dir):
    """Segmented (piecewise-linear) trend with ONE fixed knot at the
    midpoint of the observation window, fit per event type on the daily
    mean-value grid: y ~ b0 + b1·t + b2·max(0, t−k).  The changepoint
    upgrade of `stats_linear_trend` — a series that accelerates halfway
    through fits a straight line badly, and b2 IS the measured slope
    change (slope_post − slope_pre), the quantity a "did the trend
    break?" readout wants.

    Closed form like `ml_ridge_closed_form`, one dimension up: the 3×3
    normal-equation system is solved symbolically by Cramer's rule from
    TEN moments, every one an exact BIGINT (daily means are milli-
    quantized integers: BIGINT sums + one <2^53 floored divide; t and u
    are small integers), so the determinant expressions — written
    IDENTICALLY on both sides — see bit-identical inputs.

    Scale: one grouped agg to the (type, day) grid, one grouped agg to
    the 10-moment relation (map-side combine all the way), O(1) scalar
    math per group.  No windows, no iterations, no driver-side solve.
    RMSE comes free from the Syy moment via SSE = Syy − β·c."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
    )
    bounds = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    g = (
        d.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", "day")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y"),
            F.datediff(F.first("day"), F.first("d0")).cast("long").alias("t"),
            F.floor(F.datediff(F.first("d1"), F.first("d0")) / 2)
            .cast("long")
            .alias("k"),
        )
    )
    u = F.greatest(F.col("t") - F.col("k"), F.lit(0))
    m = g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("s1"),
        F.sum("t").cast("long").alias("st"),
        F.sum(u).cast("long").alias("su"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * u).cast("long").alias("stu"),
        F.sum(u * u).cast("long").alias("suu"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(u * F.col("y")).cast("long").alias("suy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.max("k").alias("k"),
    )
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    det = (
        D("s1") * (D("stt") * D("suu") - D("stu") * D("stu"))
        - D("st") * (D("st") * D("suu") - D("stu") * D("su"))
        + D("su") * (D("st") * D("stu") - D("stt") * D("su"))
    )
    det0 = (
        D("sy") * (D("stt") * D("suu") - D("stu") * D("stu"))
        - D("st") * (D("sty") * D("suu") - D("stu") * D("suy"))
        + D("su") * (D("sty") * D("stu") - D("stt") * D("suy"))
    )
    det1 = (
        D("s1") * (D("sty") * D("suu") - D("suy") * D("stu"))
        - D("sy") * (D("st") * D("suu") - D("stu") * D("su"))
        + D("su") * (D("st") * D("suy") - D("sty") * D("su"))
    )
    det2 = (
        D("s1") * (D("stt") * D("suy") - D("stu") * D("sty"))
        - D("st") * (D("st") * D("suy") - D("sty") * D("su"))
        + D("sy") * (D("st") * D("stu") - D("stt") * D("su"))
    )
    sol = m.select(
        "event_type",
        "s1",
        "sy",
        "sty",
        "suy",
        "syy",
        "k",
        det.alias("det"),
        det0.alias("det0"),
        det1.alias("det1"),
        det2.alias("det2"),
    )
    sse = (
        D("syy")
        - (F.col("det0") / F.col("det")) * D("sy")
        - (F.col("det1") / F.col("det")) * D("sty")
        - (F.col("det2") / F.col("det")) * D("suy")
    )
    return sol.select(
        "event_type",
        F.col("s1").alias("n_days"),
        F.col("k").alias("knot_day"),
        F.round(F.col("det0") / F.col("det") / F.lit(1000.0), 6).alias("b0"),
        F.round(F.col("det1") / F.col("det") / F.lit(1000.0), 6).alias("slope_pre"),
        F.round(F.col("det2") / F.col("det") / F.lit(1000.0), 6).alias("slope_change"),
        F.round(
            (F.col("det1") + F.col("det2")) / F.col("det") / F.lit(1000.0), 6
        ).alias("slope_post"),
        F.round(
            F.sqrt(F.greatest(sse / F.col("s1"), F.lit(0.0))) / F.lit(1000.0), 6
        ).alias("rmse"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# SPRT — sequential probability ratio monitor over the order stream
# ---------------------------------------------------------------------------

# Wald SPRT for Bernoulli p0=0.18 vs p1=0.25, alpha=beta=0.05.  The log-
# likelihood increments and boundaries are PRECOMPUTED nano-quantized
# integer literals (embedded identically in both engines), so the entire
# monitor is BIGINT arithmetic — no libm call ever crosses the engine
# boundary.
_SPRT_C1 = 328504067      # floor(ln(0.25/0.18)*1e9 + 0.5)
_SPRT_C0 = -89231134      # floor(ln(0.75/0.82)*1e9 + 0.5)
_SPRT_A = 2944438979      # floor(ln((1-0.05)/0.05)*1e9 + 0.5)


_SPRT_ORACLE_SQL = f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                    AS BIGINT) AS u
        FROM orders GROUP BY day
    ), c AS (
        SELECT day, n, u,
               CAST(sum(u) OVER w AS BIGINT) AS cu,
               CAST(sum(n) OVER w AS BIGINT) AS cn
        FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
    ), s AS (
        SELECT day, n, u,
               cu * CAST({_SPRT_C1} AS BIGINT)
                 + (cn - cu) * CAST({_SPRT_C0} AS BIGINT) AS llr_q
        FROM c
    ), first_cross AS (
        SELECT min(day) AS fday FROM s
        WHERE llr_q >= {_SPRT_A} OR llr_q <= -{_SPRT_A}
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n AS n_orders, u AS n_urgent,
           floor(CAST(llr_q AS DOUBLE) / 1000.0 + 0.5) / 1000000.0 AS llr,
           CASE WHEN llr_q >= {_SPRT_A} THEN 'accept_h1'
                WHEN llr_q <= -{_SPRT_A} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM s
    WHERE (SELECT fday FROM first_cross) IS NULL
       OR day <= (SELECT fday FROM first_cross)
    ORDER BY day
    """


@register(
    "stats_sprt_monitor",
    oracle=_SPRT_ORACLE_SQL,
    tags=("stats", "sequential", "sprt", "monitor"),
)
def q_stats_sprt_monitor(spark, sf_dir):
    """Wald's sequential probability ratio test driven over the daily
    order stream: is the urgent-order rate p0 = 0.18 (H0) or p1 = 0.25
    (H1)?  Unlike the fixed-horizon `stats_two_proportion_z`, the SPRT
    is the STREAMING decision procedure — it looks at the cumulative
    log-likelihood ratio after every day and STOPS at the first boundary
    crossing (±ln(19) for alpha = beta = 0.05), with the optimal-
    stopping guarantee that no test with the same error rates decides
    faster on average.  The emitted trajectory ends at the first
    crossing day (or runs to the end undecided), so the row set itself
    encodes the decision time.

    INTEGER-EXACT throughout: the two LLR increments and the boundary
    are nano-quantized integer literals computed once and embedded in
    both engines, the daily counts are BIGINT, and the cumulative LLR is
    a BIGINT dot product of the cumulative counts with those constants —
    the monitor never evaluates a logarithm at query time.

    Scale: one grouped agg to the calendar-bounded day grid; the running
    sums ride that grid (allow-listed global window, same argument as
    `stats_runs_test`).  The cumulative counters are MERGEABLE, so the
    streaming twin is the same grid accumulated per micro-batch."""
    o = load_table(spark, sf_dir, "orders")
    return sprt_readout_from_day_grid(sprt_day_grid(o))


def sprt_day_grid(orders: DataFrame) -> DataFrame:
    """(day, n, u) daily counting grid of the SPRT monitor — MERGEABLE by
    grouped SUM over disjoint order sets, which is what makes the
    streaming twin (`streaming/sprt_stream.py`) serve the exact batch
    trajectory."""
    return orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("u"),
    )


def sprt_readout_from_day_grid(d: DataFrame) -> DataFrame:
    """Cumulative-LLR trajectory up to (and including) the first boundary
    crossing, from any (day, n, u) grid — shared by the batch query and
    the streaming store serve."""
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.select(
        "day",
        "n",
        "u",
        F.sum("u").over(w).cast("long").alias("cu"),
        F.sum("n").over(w).cast("long").alias("cn"),
    )
    s = c.select(
        "day",
        "n",
        "u",
        (
            F.col("cu") * F.lit(_SPRT_C1) + (F.col("cn") - F.col("cu")) * F.lit(_SPRT_C0)
        ).alias("llr_q"),
    ).localCheckpoint(eager=False)
    crossed = F.col("llr_q") >= F.lit(_SPRT_A)
    crossed_lo = F.col("llr_q") <= F.lit(-_SPRT_A)
    fc = s.filter(crossed | crossed_lo).agg(F.min("day").alias("fday"))
    return (
        s.crossJoin(F.broadcast(fc))
        .filter(F.col("fday").isNull() | (F.col("day") <= F.col("fday")))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").alias("n_orders"),
            F.col("u").alias("n_urgent"),
            (
                F.floor(F.col("llr_q").cast("double") / F.lit(1000.0) + F.lit(0.5))
                / F.lit(1000000.0)
            ).alias("llr"),
            F.when(crossed, F.lit("accept_h1"))
            .when(crossed_lo, F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
        )
        .orderBy("day")
    )


@register(
    "stats_sprt_stream_serve",
    oracle=_SPRT_ORACLE_SQL,
    tags=("stats", "sequential", "sprt", "streaming", "incremental"),
)
def q_stats_sprt_stream_serve(spark, sf_dir):
    """INCREMENTAL twin of `stats_sprt_monitor`, exercised as a
    batch-callable query: orders are ingested in three micro-batches
    split on pmod(xxhash64(o_orderkey), 3) — disjoint order sets, so the
    per-day count grids merge by grouped SUM without double counting
    (the count grids' disjointness contract).  The SERVED trajectory
    over the merged grid is returned; the oracle is the plain one-batch
    SQL — value-hash parity proves the mergeable store serves the batch
    SPRT bit-exactly, including the stop-at-first-crossing row set.
    Store in a process-scoped temp dir (lazy-analyzer lifetime rule, as
    `stats_experiment_stream_serve`)."""
    import atexit
    import shutil
    import tempfile

    from ..streaming.sprt_stream import SprtStreamMonitor

    o = load_table(spark, sf_dir, "orders")
    store = tempfile.mkdtemp(prefix="sprt_serve_")
    atexit.register(shutil.rmtree, store, ignore_errors=True)
    mon = SprtStreamMonitor(spark, store)
    for bid in range(3):
        mon.ingest_batch(
            o.filter(F.pmod(F.xxhash64("o_orderkey"), F.lit(3)) == bid), bid
        )
    return mon.serve_trajectory()


# ---------------------------------------------------------------------------
# Elastic net via coordinate descent — sparse regression trained in-plan
# ---------------------------------------------------------------------------

_ENET_L1 = 0.05
_ENET_L2 = 0.10
_ENET_ROUNDS = 6


def _enet_update_expr(j: int) -> str:
    """The coordinate-j soft-threshold update as a SQL-dialect-neutral
    scalar expression over columns (ry1..ry3, r12, r13, r23, b1..b3) —
    the SAME string is compiled by Spark (`F.expr`) and DuckDB, so both
    engines execute the identical IEEE expression tree.  On standardized
    (correlation-form) inputs H_jj = 1, hence the (1 + λ2) denominator."""
    others = [k for k in (1, 2, 3) if k != j]
    r = lambda a, b: f"r{min(a, b)}{max(a, b)}"  # noqa: E731
    z = f"(ry{j} - {r(j, others[0])} * b{others[0]} - {r(j, others[1])} * b{others[1]})"
    l1, l2 = _ENET_L1, _ENET_L2
    return (
        f"CASE WHEN {z} > {l1} THEN ({z} - {l1}) / (1.0 + {l2}) "
        f"WHEN {z} < -{l1} THEN ({z} + {l1}) / (1.0 + {l2}) "
        f"ELSE 0.0 END"
    )


def _enet_oracle_sql() -> str:
    """Moments -> correlation form -> unrolled coordinate-descent rounds,
    every update `SELECT * REPLACE` of one coefficient."""
    steps = []
    prev = "t0"
    i = 0
    for _ in range(_ENET_ROUNDS):
        for j in (1, 2, 3):
            i += 1
            steps.append(
                f", t{i} AS (SELECT * REPLACE(({_enet_update_expr(j)}) AS b{j}) FROM {prev})"
            )
            prev = f"t{i}"
    return rf"""
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
               CAST(sum(x3) AS BIGINT) AS sx3, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1*x1) AS BIGINT) AS s11, CAST(sum(x1*x2) AS BIGINT) AS s12,
               CAST(sum(x1*x3) AS BIGINT) AS s13, CAST(sum(x2*x2) AS BIGINT) AS s22,
               CAST(sum(x2*x3) AS BIGINT) AS s23, CAST(sum(x3*x3) AS BIGINT) AS s33,
               CAST(sum(x1*y) AS BIGINT) AS sy1, CAST(sum(x2*y) AS BIGINT) AS sy2,
               CAST(sum(x3*y) AS BIGINT) AS sy3, CAST(sum(y*y) AS BIGINT) AS syy
        FROM (SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS x1,
                     CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS x2,
                     CAST(doc_id % 100 AS BIGINT) AS x3,
                     CAST(n_chars AS BIGINT) AS y
              FROM documents)
    ), c AS (
        SELECT n,
               CAST(sx1 AS DOUBLE) / n AS m1, CAST(sx2 AS DOUBLE) / n AS m2,
               CAST(sx3 AS DOUBLE) / n AS m3, CAST(sy AS DOUBLE) / n AS my,
               CAST(s11 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n AS c11,
               CAST(s12 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx2 / n AS c12,
               CAST(s13 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx3 / n AS c13,
               CAST(s22 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n AS c22,
               CAST(s23 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx3 / n AS c23,
               CAST(s33 AS DOUBLE) - CAST(sx3 AS DOUBLE) * sx3 / n AS c33,
               CAST(sy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sy / n AS cy1,
               CAST(sy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sy / n AS cy2,
               CAST(sy3 AS DOUBLE) - CAST(sx3 AS DOUBLE) * sy / n AS cy3,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
        FROM m
    ), t0 AS (
        SELECT n, m1, m2, m3, my, c11, c22, c33, cyy,
               c12 / sqrt(c11 * c22) AS r12,
               c13 / sqrt(c11 * c33) AS r13,
               c23 / sqrt(c22 * c33) AS r23,
               cy1 / sqrt(c11 * cyy) AS ry1,
               cy2 / sqrt(c22 * cyy) AS ry2,
               cy3 / sqrt(c33 * cyy) AS ry3,
               CAST(0.0 AS DOUBLE) AS b1,
               CAST(0.0 AS DOUBLE) AS b2,
               CAST(0.0 AS DOUBLE) AS b3
        FROM c
    ){''.join(steps)}
    SELECT n,
           floor(b1 * 1000000 + 0.5) / 1000000 AS beta1_std,
           floor(b2 * 1000000 + 0.5) / 1000000 AS beta2_std,
           floor(b3 * 1000000 + 0.5) / 1000000 AS beta3_std,
           round(b1 * sqrt(cyy / c11), 6) AS w_tokens,
           round(b2 * sqrt(cyy / c22), 6) AS w_vowels,
           round(b3 * sqrt(cyy / c33), 6) AS w_noise,
           round(my - b1 * sqrt(cyy / c11) * m1
                    - b2 * sqrt(cyy / c22) * m2
                    - b3 * sqrt(cyy / c33) * m3, 4) AS intercept,
           CAST((CASE WHEN b1 <> 0.0 THEN 1 ELSE 0 END)
              + (CASE WHEN b2 <> 0.0 THEN 1 ELSE 0 END)
              + (CASE WHEN b3 <> 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonzero
    FROM {prev}
    """


@register(
    "ml_elastic_net_cd",
    oracle=_enet_oracle_sql(),
    tags=("ml", "lasso", "elastic-net", "coordinate-descent"),
)
def q_ml_elastic_net_cd(spark, sf_dir):
    """Elastic net (λ1=0.05, λ2=0.10 on standardized variables) for
    n_chars ~ (token count, vowel count, doc_id%100 noise), trained by SIX unrolled
    rounds of cyclic coordinate descent ENTIRELY INSIDE THE PLAN — the
    sparse-regression complement to `ml_ridge_closed_form` (pure L2 has a
    closed form; the L1 soft threshold does not, so the iteration itself
    must be exact).  The verdict on this data: the doc_id%100 noise
    feature carries no signal and is zeroed by the L1 penalty while the
    two real text features survive (n_nonzero = 2, pinned by the test) —
    the automatic feature pruning that motivates the lasso.

    Exactness: inputs are integer-quantized (whitespace token count,
    vowel count, doc_id%100, n_chars), so ALL 15 Gram/moment sums are
    exact BIGINTs; the
    correlation-form reduction and every soft-threshold update are scalar
    expressions generated from ONE shared string (`F.expr` on the Spark
    side, the same text in the DuckDB CTE chain), so both engines walk
    the identical IEEE expression tree for all 18 coordinate updates.

    Scale: ONE map-side-combined scan of documents to 15 BIGINT moments;
    the CD rounds are O(1) scalar algebra on a single broadcastable row —
    at 100 TB the cost is the scan, the optimizer is free.  (Σy² is the
    binding moment: n_chars² ≈ 1.6e7 per row keeps it < 2^63 up to ~5e11
    documents; beyond that, rescale y to hecto-chars — documented here.)"""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("x1"),
        F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast("long").alias("x2"),
        (F.col("doc_id") % 100).cast("long").alias("x3"),
        F.col("n_chars").cast("long").alias("y"),
    )
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("x3").cast("long").alias("sx3"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).cast("long").alias("s13"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("s22"),
        F.sum(F.col("x2") * F.col("x3")).cast("long").alias("s23"),
        F.sum(F.col("x3") * F.col("x3")).cast("long").alias("s33"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("sy1"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("sy2"),
        F.sum(F.col("x3") * F.col("y")).cast("long").alias("sy3"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nD = F.col("n").cast("double")
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    c = m.select(
        "n",
        (D("sx1") / nD).alias("m1"),
        (D("sx2") / nD).alias("m2"),
        (D("sx3") / nD).alias("m3"),
        (D("sy") / nD).alias("my"),
        (D("s11") - D("sx1") * F.col("sx1") / nD).alias("c11"),
        (D("s12") - D("sx1") * F.col("sx2") / nD).alias("c12"),
        (D("s13") - D("sx1") * F.col("sx3") / nD).alias("c13"),
        (D("s22") - D("sx2") * F.col("sx2") / nD).alias("c22"),
        (D("s23") - D("sx2") * F.col("sx3") / nD).alias("c23"),
        (D("s33") - D("sx3") * F.col("sx3") / nD).alias("c33"),
        (D("sy1") - D("sx1") * F.col("sy") / nD).alias("cy1"),
        (D("sy2") - D("sx2") * F.col("sy") / nD).alias("cy2"),
        (D("sy3") - D("sx3") * F.col("sy") / nD).alias("cy3"),
        (D("syy") - D("sy") * F.col("sy") / nD).alias("cyy"),
    )
    t = c.select(
        "n",
        "m1",
        "m2",
        "m3",
        "my",
        "c11",
        "c22",
        "c33",
        "cyy",
        (F.col("c12") / F.sqrt(F.col("c11") * F.col("c22"))).alias("r12"),
        (F.col("c13") / F.sqrt(F.col("c11") * F.col("c33"))).alias("r13"),
        (F.col("c23") / F.sqrt(F.col("c22") * F.col("c33"))).alias("r23"),
        (F.col("cy1") / F.sqrt(F.col("c11") * F.col("cyy"))).alias("ry1"),
        (F.col("cy2") / F.sqrt(F.col("c22") * F.col("cyy"))).alias("ry2"),
        (F.col("cy3") / F.sqrt(F.col("c33") * F.col("cyy"))).alias("ry3"),
        F.lit(0.0).alias("b1"),
        F.lit(0.0).alias("b2"),
        F.lit(0.0).alias("b3"),
    )
    # each b_j references the other two coefficients, so the expression
    # tree doubles per round — ~3·2^6 ≈ 200 nodes at 6 rounds, still far
    # cheaper to inline than to materialize intermediate checkpoints
    for _ in range(_ENET_ROUNDS):
        for j in (1, 2, 3):
            t = t.withColumn(f"b{j}", F.expr(_enet_update_expr(j)))
    back = lambda j, cjj: F.col(f"b{j}") * F.sqrt(F.col("cyy") / F.col(cjj))  # noqa: E731
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    nz = lambda j: F.when(F.col(f"b{j}") != 0.0, 1).otherwise(0)  # noqa: E731
    return t.select(
        "n",
        canon(F.col("b1")).alias("beta1_std"),
        canon(F.col("b2")).alias("beta2_std"),
        canon(F.col("b3")).alias("beta3_std"),
        F.round(back(1, "c11"), 6).alias("w_tokens"),
        F.round(back(2, "c22"), 6).alias("w_vowels"),
        F.round(back(3, "c33"), 6).alias("w_noise"),
        F.round(
            F.col("my")
            - back(1, "c11") * F.col("m1")
            - back(2, "c22") * F.col("m2")
            - back(3, "c33") * F.col("m3"),
            4,
        ).alias("intercept"),
        (nz(1) + nz(2) + nz(3)).cast("long").alias("n_nonzero"),
    )


# ---------------------------------------------------------------------------
# Platt scaling — calibrating a raw heuristic score into a probability
# ---------------------------------------------------------------------------

_PLATT_SOLVE = """
        {scale} * ( mm22 * gg1 - mm12 * gg2) / (mm11 * mm22 - mm12 * mm12) AS {a},
        {scale} * (-mm12 * gg1 + mm11 * gg2) / (mm11 * mm22 - mm12 * mm12) AS {b}
"""


@register(
    "ml_platt_scaling",
    oracle="""
    WITH d0 AS (
        SELECT CAST(n_chars AS BIGINT) AS x,
               CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END AS z
        FROM documents WHERE source IN ('src0', 'src1')
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM d0
    ), d AS (
        SELECT (CAST(d0.x AS DOUBLE) - CAST(mom.sx AS DOUBLE) / mom.n)
               / sqrt((CAST(mom.sxx AS DOUBLE)
                       - CAST(mom.sx AS DOUBLE) * mom.sx / mom.n) / mom.n) AS s,
               d0.z
        FROM d0 CROSS JOIN mom
    ), g1 AS (
        SELECT CAST(count(*) AS DOUBLE) AS mm22,
               sum(s) AS mm12, sum(s * s) AS mm11,
               sum(s * (z - 0.5)) AS gg1, sum(z - 0.5) AS gg2
        FROM d
    ), b1 AS (
        SELECT""" + _PLATT_SOLVE.format(scale="4.0", a="a1", b="b1") + """
        FROM g1
    ), r2 AS (
        SELECT d.s, d.z, b1.a1, b1.b1,
               1.0 / (1.0 + exp(-(a1 * s + b1))) AS p
        FROM d CROSS JOIN b1
    ), g2 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               min(a1) AS a1, min(b1) AS b1,
               sum(p * (1.0 - p) * s * s) AS mm11,
               sum(p * (1.0 - p) * s) AS mm12,
               sum(p * (1.0 - p)) AS mm22,
               sum(s * (z - p)) AS gg1,
               sum(z - p) AS gg2
        FROM r2
    ), fin AS (
        SELECT n, a1, b1,""" + _PLATT_SOLVE.format(scale="1.0", a="da", b="db") + """
        FROM g2
    ), scored AS (
        SELECT d.z,
               1.0 / (1.0 + exp(-((f.a1 + f.da) * d.s + (f.b1 + f.db)))) AS p,
               f.n, f.a1 + f.da AS a, f.b1 + f.db AS b
        FROM d CROSS JOIN fin f
    )
    SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_bin,
           floor((sum(p) / count(*)) * 1000000 + 0.5) / 1000000 AS mean_p,
           floor((sum(z) / count(*)) * 1000000 + 0.5) / 1000000 AS pos_rate,
           floor(min(a) * 100000 + 0.5) / 100000 AS platt_a,
           floor(min(b) * 100000 + 0.5) / 100000 AS platt_b
    FROM scored
    GROUP BY least(CAST(floor(p * 10) AS BIGINT), 9)
    """,
    tags=("ml", "calibration", "platt", "classifier"),
)
def q_ml_platt_scaling(spark, sf_dir):
    """Platt scaling — the standard recipe for turning a RAW heuristic
    score into a calibrated probability: fit p = σ(A·s + B) on the
    score/label pairs by two exact Newton steps (Platt 1999, public).
    Here the raw score is the n_chars z-score of each document and the
    label is src1-membership — the "length looks like quality" heuristic
    every corpus pipeline starts with, upgraded to a probability whose
    deciles can gate admission at a chosen precision.  Completes the
    calibration family: `ml_calibration_bins` audits an already-
    probabilistic model, `ml_isotonic_calibration` fits the monotone
    nonparametric map, Platt fits the 2-parameter sigmoid to an
    ARBITRARY score.

    Same exact-Newton architecture as `ml_logistic_newton` one dimension
    down: step 1 from (A,B) = 0 has constant curvature W = I/4 and the
    2×2 solve is symbolic; step 2 re-scores every row with the broadcast
    1-row coefficient relation and solves the weighted system.  The
    standardization moments are exact BIGINTs; the Gram/gradient sums
    are the one engine-order quantity, absorbed by the 5-dp
    canonicalization of (A, B) and the 6-dp bin aggregates.

    Scale: three map-side-combined scans (moments, step-2 Gram, final
    scoring) + two 1-row broadcasts — no MLlib state, no driver math.
    Output: the reliability deciles of the CALIBRATED score with (A, B)
    alongside."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    d0 = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        F.when(F.col("source") == "src1", 1.0).otherwise(0.0).alias("z"),
    )
    mom = d0.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nD = F.col("n").cast("double")
    mu = F.col("sx").cast("double") / nD
    sd = F.sqrt((F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nD) / nD)
    d = d0.crossJoin(F.broadcast(mom)).select(
        ((F.col("x").cast("double") - mu) / sd).alias("s"), "z"
    )
    g1 = d.agg(
        F.count("*").cast("double").alias("mm22"),
        F.sum("s").alias("mm12"),
        F.sum(F.col("s") * F.col("s")).alias("mm11"),
        F.sum(F.col("s") * (F.col("z") - F.lit(0.5))).alias("gg1"),
        F.sum(F.col("z") - F.lit(0.5)).alias("gg2"),
    )
    det = F.col("mm11") * F.col("mm22") - F.col("mm12") * F.col("mm12")
    b1 = g1.select(
        (F.lit(4.0) * (F.col("mm22") * F.col("gg1") - F.col("mm12") * F.col("gg2")) / det).alias("a1"),
        (F.lit(4.0) * (-F.col("mm12") * F.col("gg1") + F.col("mm11") * F.col("gg2")) / det).alias("b1"),
    )
    r2 = d.crossJoin(F.broadcast(b1)).withColumn(
        "p",
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("a1") * F.col("s") + F.col("b1")))),
    )
    w = F.col("p") * (F.lit(1.0) - F.col("p"))
    g2 = r2.agg(
        F.count("*").cast("long").alias("n"),
        F.min("a1").alias("a1"),
        F.min("b1").alias("b1"),
        F.sum(w * F.col("s") * F.col("s")).alias("mm11"),
        F.sum(w * F.col("s")).alias("mm12"),
        F.sum(w).alias("mm22"),
        F.sum(F.col("s") * (F.col("z") - F.col("p"))).alias("gg1"),
        F.sum(F.col("z") - F.col("p")).alias("gg2"),
    )
    fin = g2.select(
        "n",
        "a1",
        "b1",
        ((F.col("mm22") * F.col("gg1") - F.col("mm12") * F.col("gg2")) / det).alias("da"),
        ((-F.col("mm12") * F.col("gg1") + F.col("mm11") * F.col("gg2")) / det).alias("db"),
    )
    scored = d.crossJoin(F.broadcast(fin)).select(
        "z",
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        (F.col("a1") + F.col("da")) * F.col("s")
                        + (F.col("b1") + F.col("db"))
                    )
                )
            )
        ).alias("p"),
        (F.col("a1") + F.col("da")).alias("a"),
        (F.col("b1") + F.col("db")).alias("b"),
    )
    canon6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    canon5 = lambda col: F.floor(col * 100000 + F.lit(0.5)) / 100000  # noqa: E731
    return scored.groupBy(
        F.least(F.floor(F.col("p") * 10), F.lit(9.0)).cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n_bin"),
        canon6(F.sum("p") / F.count("*")).alias("mean_p"),
        canon6(F.sum("z") / F.count("*")).alias("pos_rate"),
        canon5(F.min("a")).alias("platt_a"),
        canon5(F.min("b")).alias("platt_b"),
    )


# ---------------------------------------------------------------------------
# Qini / uplift curve — heterogeneous-treatment-effect readout by decile
# ---------------------------------------------------------------------------


@register(
    "events_qini_uplift",
    oracle="""
    WITH bounds AS (
        SELECT epoch_us(min(date_trunc('microseconds', ts)))
               + (epoch_us(max(date_trunc('microseconds', ts)))
                  - epoch_us(min(date_trunc('microseconds', ts)))) // 2 AS mid
        FROM events
    ), u AS (
        SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(count(*) FILTER (
                   WHERE epoch_us(date_trunc('microseconds', ts))
                         <= (SELECT mid FROM bounds)) AS BIGINT) AS score,
               CAST(max(CASE WHEN event_type = 'purchase' AND value >= 200.0
                             AND epoch_us(date_trunc('microseconds', ts))
                                 > (SELECT mid FROM bounds)
                             THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ), g AS (
        SELECT score,
               CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS tn,
               CAST(sum(conv) FILTER (WHERE arm = 1) AS BIGINT) AS tc,
               CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS cn,
               CAST(sum(conv) FILTER (WHERE arm = 0) AS BIGINT) AS cc,
               CAST(count(*) AS BIGINT) AS alln
        FROM u GROUP BY score
    ), c AS (
        SELECT score,
               CAST(sum(tn) OVER w AS BIGINT) AS ctn,
               CAST(sum(tc) OVER w AS BIGINT) AS ctc,
               CAST(sum(cn) OVER w AS BIGINT) AS ccn,
               CAST(sum(cc) OVER w AS BIGINT) AS ccc,
               CAST(sum(alln) OVER w AS BIGINT) AS call
        FROM g WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all FROM u
    ), dec AS (
        SELECT d.decile,
               max(CASE WHEN c.call * 10 <= d.decile * t.n_all
                        THEN c.call END) AS cut
        FROM c CROSS JOIN tot t
        CROSS JOIN (SELECT unnest(range(1, 11)) AS decile) d
        GROUP BY d.decile
    ), pick AS (
        SELECT dec.decile,
               COALESCE(max(c.ctn), 0) AS n_treat,
               COALESCE(max(c.ccn), 0) AS n_ctrl,
               COALESCE(max(c.ctc), 0) AS conv_treat,
               COALESCE(max(c.ccc), 0) AS conv_ctrl
        FROM dec LEFT JOIN c ON c.call = dec.cut
        GROUP BY dec.decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_treat AS BIGINT) AS n_treat, CAST(n_ctrl AS BIGINT) AS n_ctrl,
           CAST(conv_treat AS BIGINT) AS conv_treat,
           CAST(conv_ctrl AS BIGINT) AS conv_ctrl,
           CASE WHEN n_ctrl > 0 THEN
               floor((conv_treat - CAST(conv_ctrl AS DOUBLE) * n_treat / n_ctrl)
                     * 1000000 + 0.5) / 1000000 END AS qini,
           CASE WHEN n_ctrl > 0 AND n_treat > 0 THEN
               floor((CAST(conv_treat AS DOUBLE) / n_treat
                      - CAST(conv_ctrl AS DOUBLE) / n_ctrl)
                     * 1000000 + 0.5) / 1000000 END AS uplift
    FROM pick ORDER BY decile
    """,
    tags=("stats", "uplift", "qini", "ab-test"),
)
def q_events_qini_uplift(spark, sf_dir):
    """Qini / uplift curve — the heterogeneous-treatment-effect readout
    that answers "WHOM does the treatment help", where
    `stats_two_proportion_z` only answers "does it help on average":
    rank users by a pre-period targeting score (first-half activity
    count), then at each decile of the ranked population compare
    second-half conversion between the user_id-parity arms.  Qini(d) =
    convT(d) − convC(d)·nT(d)/nC(d) (incremental conversions vs a
    control scaled to the treated population) — the area under this
    curve is THE uplift-model benchmark metric (Radcliffe 2007, public).
    Time-splitting score and outcome windows removes the outcome leak a
    naive same-window activity score would have.

    INTEGER-EXACT: scores and conversions are BIGINT; cumulative
    (treat/ctrl × n/conv) ride the distinct-score grid DESC; deciles cut
    by the exact integer rule cum_all·10 ≤ decile·n_all (the
    `ml_cumulative_gains` device — no fp threshold); the two closing
    divides are canonicalized.

    Scale: one events scan → per-user agg → distinct-score grid (bounded
    by max per-user activity, not |users|); the global windows ride that
    bounded grid via grid_cumsum.  Output: 10 deciles with arm
    bookkeeping beside (qini, uplift)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        (
            F.min(F.unix_micros("ts"))
            + ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 2).cast(
                "long"
            )
        ).alias("mid")
    )
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.unix_micros("ts") <= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("score"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= 200.0)
                    & (F.unix_micros("ts") > F.col("mid")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("conv"),
        )
        .select(
            (F.col("user_id") % 2).cast("long").alias("arm"), "score", "conv"
        )
    )
    g = u.groupBy("score").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("tc"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("cn"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("cc"),
        F.count("*").cast("long").alias("alln"),
    )
    c = grid_cumsum(
        g.withColumn("nsc", -F.col("score")),
        ["tn", "tc", "cn", "cc", "alln"],
        order_col="nsc",
    ).select(
        F.col("cum_tn").alias("ctn"),
        F.col("cum_tc").alias("ctc"),
        F.col("cum_cn").alias("ccn"),
        F.col("cum_cc").alias("ccc"),
        F.col("cum_alln").alias("call"),
    )
    tot = u.agg(F.count("*").cast("long").alias("n_all"))
    deciles = spark.range(1, 11).select(F.col("id").cast("long").alias("decile"))
    dec = (
        c.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(deciles))
        .groupBy("decile")
        .agg(
            F.max(
                F.when(F.col("call") * 10 <= F.col("decile") * F.col("n_all"), F.col("call"))
            ).alias("cut")
        )
    )
    pick = (
        dec.join(c, dec.cut == c.call, "left")
        .groupBy("decile")
        .agg(
            F.coalesce(F.max("ctn"), F.lit(0)).cast("long").alias("n_treat"),
            F.coalesce(F.max("ccn"), F.lit(0)).cast("long").alias("n_ctrl"),
            F.coalesce(F.max("ctc"), F.lit(0)).cast("long").alias("conv_treat"),
            F.coalesce(F.max("ccc"), F.lit(0)).cast("long").alias("conv_ctrl"),
        )
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return pick.select(
        "decile",
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.when(
            F.col("n_ctrl") > 0,
            canon(
                F.col("conv_treat")
                - F.col("conv_ctrl").cast("double") * F.col("n_treat") / F.col("n_ctrl")
            ),
        ).alias("qini"),
        F.when(
            (F.col("n_ctrl") > 0) & (F.col("n_treat") > 0),
            canon(
                F.col("conv_treat").cast("double") / F.col("n_treat")
                - F.col("conv_ctrl").cast("double") / F.col("n_ctrl")
            ),
        ).alias("uplift"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# Regression influence diagnostics — leverage and Cook's distance
# ---------------------------------------------------------------------------


@register(
    "ml_regression_influence",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ), g AS (
        SELECT CAST(date_diff('day', (SELECT min(day) FROM d), day) AS BIGINT) AS t,
               strftime(day, '%Y-%m-%d') AS day,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY day
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS st, CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * y) AS BIGINT) AS sty,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM g
    ), fit AS (
        SELECT n, st, stt,
               (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS slope,
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                  * st) / n AS icept,
               (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS sxx,
               CAST(st AS DOUBLE) / n AS tbar
        FROM m
    ), res AS (
        SELECT g.day, g.t, g.y, f.n,
               (g.y - (f.icept + f.slope * g.t)) AS e,
               (1.0 / f.n + (g.t - f.tbar) * (g.t - f.tbar) / f.sxx) AS h
        FROM g CROSS JOIN fit f
    ), mse AS (
        SELECT CAST(sum(CAST(floor(e * e * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sse_q,
               max(n) AS n
        FROM res
    )
    SELECT r.day, r.t,
           floor(r.h * 1000000 + 0.5) / 1000000 AS leverage,
           floor(r.e / 1000.0 * 1000000 + 0.5) / 1000000 AS residual,
           floor((r.e * r.e / ((CAST(m.sse_q AS DOUBLE) / 1000.0) / (m.n - 2))
                  / (1.0 - r.h)) * (r.h / (2.0 * (1.0 - r.h)))
                 * 1000000 + 0.5) / 1000000 AS cooks_d
    FROM res r CROSS JOIN mse m
    ORDER BY cooks_d DESC, r.day LIMIT 10
    """,
    tags=("ml", "regression", "diagnostics", "influence"),
)
def q_ml_regression_influence(spark, sf_dir):
    """Influence diagnostics for the daily-mean trend regression: per-day
    leverage h_i = 1/n + (t−t̄)²/S_tt, residual, and Cook's distance
    D_i = e_i²/(p·MSE) · h_i/(1−h_i)² (p = 2) — WHICH days drive the
    fitted trend, the audit `stats_linear_trend` owes its users: a trend
    is only as trustworthy as its least replaceable observation.  Top-10
    days by D, deterministic (canonicalized D desc, then day).

    Exactness: the daily grid is the milli-quantized integer-mean device
    (`ts_segmented_trend`); the five fit moments are BIGINT; hat values
    and residuals are identical IEEE expressions of those integers; the
    one order-sensitive reduction (SSE) quantizes e² to milli-units
    before summing.

    Scale: one scan to the day grid, one 6-moment agg, one broadcast
    join back — diagnostics for free at any corpus size; the top-10 is
    a TakeOrdered, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
    )
    dmin = d.agg(F.min("day").alias("d0"))
    g = (
        d.crossJoin(F.broadcast(dmin))
        .groupBy("day")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y"),
            F.datediff(F.first("day"), F.first("d0")).cast("long").alias("t"),
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "t", "y")
        .localCheckpoint(eager=False)
    )
    m = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nD = F.col("n").cast("double")
    slope = (nD * F.col("sty") - F.col("st").cast("double") * F.col("sy")) / (
        nD * F.col("stt") - F.col("st").cast("double") * F.col("st")
    )
    fit = m.select(
        "n",
        slope.alias("slope"),
        ((F.col("sy").cast("double") - slope * F.col("st")) / nD).alias("icept"),
        (F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st") / nD).alias(
            "sxx"
        ),
        (F.col("st").cast("double") / nD).alias("tbar"),
    )
    res = g.crossJoin(F.broadcast(fit)).select(
        "day",
        "t",
        "n",
        (F.col("y") - (F.col("icept") + F.col("slope") * F.col("t"))).alias("e"),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("t") - F.col("tbar")) * (F.col("t") - F.col("tbar")) / F.col("sxx")
        ).alias("h"),
    ).localCheckpoint(eager=False)
    mse = res.agg(
        F.sum(F.floor(F.col("e") * F.col("e") * 1000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sse_q"),
        F.max("n").alias("n"),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        res.crossJoin(F.broadcast(mse.select("sse_q", F.col("n").alias("_n"))))
        .select(
            "day",
            "t",
            canon(F.col("h")).alias("leverage"),
            canon(F.col("e") / F.lit(1000.0)).alias("residual"),
            canon(
                (
                    F.col("e")
                    * F.col("e")
                    / (
                        (F.col("sse_q").cast("double") / F.lit(1000.0))
                        / (F.col("_n") - F.lit(2))
                    )
                    / (F.lit(1.0) - F.col("h"))
                )
                * (F.col("h") / (F.lit(2.0) * (F.lit(1.0) - F.col("h"))))
            ).alias("cooks_d"),
        )
        .orderBy(F.desc("cooks_d"), "day")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Power / minimum-detectable-effect calculator for the experiment readout
# ---------------------------------------------------------------------------

# two-sided alpha = 0.05, power = 0.80 — classical z constants as shared
# literals (no inverse-normal at query time; same device as the SPRT)
_Z_ALPHA2 = 1.9599639845400545
_Z_BETA = 0.8416212335729143


@register(
    "stats_power_mde",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value >= 200.0
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ), base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv,
               sum(conv) / CAST(count(*) AS DOUBLE) AS p0
        FROM u
    ), grid AS (
        SELECT unnest([0.01, 0.02, 0.03, 0.05, 0.10]) AS delta
    )
    SELECT g.delta, b.n_users, b.n_conv,
           floor(b.p0 * 1000000 + 0.5) / 1000000 AS p0,
           floor((b.p0 + g.delta) * 1000000 + 0.5) / 1000000 AS p1,
           CAST(ceil(
               pow({_Z_ALPHA2!r} * sqrt(2.0 * ((b.p0 + (b.p0 + g.delta)) / 2.0)
                                        * (1.0 - (b.p0 + (b.p0 + g.delta)) / 2.0))
                   + {_Z_BETA!r} * sqrt(b.p0 * (1.0 - b.p0)
                                        + (b.p0 + g.delta) * (1.0 - (b.p0 + g.delta))),
                   2.0) / (g.delta * g.delta)) AS BIGINT) AS n_per_arm,
           CAST(floor(ceil(
               pow({_Z_ALPHA2!r} * sqrt(2.0 * ((b.p0 + (b.p0 + g.delta)) / 2.0)
                                        * (1.0 - (b.p0 + (b.p0 + g.delta)) / 2.0))
                   + {_Z_BETA!r} * sqrt(b.p0 * (1.0 - b.p0)
                                        + (b.p0 + g.delta) * (1.0 - (b.p0 + g.delta))),
                   2.0) / (g.delta * g.delta)) * 2 / b.n_users) AS BIGINT)
               AS x_current_population
    FROM grid g CROSS JOIN base b
    ORDER BY g.delta
    """,
    tags=("stats", "ab-test", "power", "planning"),
)
def q_stats_power_mde(spark, sf_dir):
    """Experiment POWER PLANNER: for effect sizes δ ∈ {1%, 2%, 3%, 5%,
    10%} over the observed conversion base rate, the per-arm sample size
    a two-proportion z-test needs at two-sided α = 0.05 and power 0.80 —
    n = (z_{{α/2}}·√(2p̄q̄) + z_β·√(p0q0 + p1q1))² / δ² (Fleiss, public) —
    plus how many multiples of the CURRENT user population that is.  The
    question to answer BEFORE `stats_two_proportion_z` and
    `events_logrank_test` run: an experiment that cannot reach
    significance at any plausible effect is not worth starting.

    The two z constants are shared literals (the SPRT device — no
    inverse-normal evaluated at query time); the base rate is an exact
    integer ratio; every per-δ expression is identical IEEE on both
    engines, ceil'd to an integer sample size so the value hash is
    immune to last-ulp skew except exactly at integer boundaries (δ and
    the constants are chosen off-boundary).

    Scale: one per-user grouped agg + a 5-row literal grid — O(scan)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 200.0), 1
            ).otherwise(0)
        ).alias("conv")
    )
    base = u.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
        (F.sum("conv") / F.count("*").cast("double")).alias("p0"),
    )
    grid = spark.createDataFrame(
        [(0.01,), (0.02,), (0.03,), (0.05,), (0.10,)], ["delta"]
    )
    j = grid.crossJoin(F.broadcast(base))
    p0 = F.col("p0")
    p1 = p0 + F.col("delta")
    pbar = (p0 + p1) / F.lit(2.0)
    n_arm = F.ceil(
        F.pow(
            F.lit(_Z_ALPHA2) * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
            + F.lit(_Z_BETA)
            * F.sqrt(p0 * (F.lit(1.0) - p0) + p1 * (F.lit(1.0) - p1)),
            F.lit(2.0),
        )
        / (F.col("delta") * F.col("delta"))
    ).cast("long")
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "delta",
        "n_users",
        "n_conv",
        canon(p0).alias("p0"),
        canon(p1).alias("p1"),
        n_arm.alias("n_per_arm"),
        F.floor(n_arm * 2 / F.col("n_users")).cast("long").alias(
            "x_current_population"
        ),
    ).orderBy("delta")


# ---------------------------------------------------------------------------
# Mann-Kendall trend test — nonparametric monotone-trend detection
# ---------------------------------------------------------------------------


@register(
    "ts_mann_kendall_trend",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ), g AS (
        SELECT event_type, day,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY event_type, day
    ), s AS (
        SELECT a.event_type,
               CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS mk_s
        FROM g a JOIN g b ON b.event_type = a.event_type AND b.day > a.day
        GROUP BY a.event_type
    ), nn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY event_type
    ), ties AS (
        SELECT event_type,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS t
              FROM g GROUP BY event_type, y)
        GROUP BY event_type
    )
    SELECT s.event_type, nn.n, s.mk_s,
           CAST((nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term) AS BIGINT)
               AS var18,
           CASE WHEN s.mk_s > 0 THEN
               floor((s.mk_s - 1)
                     / sqrt((nn.n * (nn.n - 1.0) * (2 * nn.n + 5) - ties.tie_term)
                            / 18.0) * 1000000 + 0.5) / 1000000
                WHEN s.mk_s < 0 THEN
               floor((s.mk_s + 1)
                     / sqrt((nn.n * (nn.n - 1.0) * (2 * nn.n + 5) - ties.tie_term)
                            / 18.0) * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS z
    FROM s JOIN nn USING (event_type) JOIN ties USING (event_type)
    ORDER BY s.event_type
    """,
    tags=("stats", "timeseries", "trend", "mann-kendall"),
)
def q_ts_mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall trend test per event type — the NONPARAMETRIC
    monotone-trend detector (standard in hydrology/climatology, public):
    S = Σ_{i<j} sign(y_j − y_i) over the daily-mean grid in time order,
    tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18,
    continuity-corrected z.  Where `stats_linear_trend` assumes a LINEAR
    trend and Gaussian noise, MK detects ANY monotone drift and ignores
    outlier magnitude entirely — the robust cross-check before trusting
    a slope (`ml_regression_influence` says which days drive the slope;
    MK says whether the drift is real without the line).

    INTEGER-EXACT: milli-quantized integer daily means (the
    `ts_segmented_trend` device), S and the tie term are BIGINT, the one
    float is the final z (identical expression both engines).

    Scale: the pair join runs on the (type, day) GRID — |calendar|² per
    type, bounded by time not by data (365² ≈ 133k pairs/type-year) —
    never on raw rows; everything else is grouped aggs."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
    )
    g = (
        d.groupBy("event_type", "day")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y")
        )
        .localCheckpoint(eager=False)
    )
    a = g.select("event_type", F.col("day").alias("da"), F.col("y").alias("ya"))
    b = g.select("event_type", F.col("day").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, "event_type")
        .filter(F.col("db") > F.col("da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("mk_s")
        )
    )
    nn = g.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    ties = (
        g.groupBy("event_type", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    j = s.join(nn, "event_type").join(ties, "event_type")
    nD = F.col("n").cast("double")
    sd = F.sqrt(
        (nD * (nD - 1) * (2 * nD + 5) - F.col("tie_term").cast("double")) / F.lit(18.0)
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.select(
        "event_type",
        "n",
        "mk_s",
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
        )
        .cast("long")
        .alias("var18"),
        F.when(F.col("mk_s") > 0, canon((F.col("mk_s") - 1) / sd))
        .when(F.col("mk_s") < 0, canon((F.col("mk_s") + 1) / sd))
        .otherwise(F.lit(0.0))
        .alias("z"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Cross-table reconciliation — do the order headers match their lines?
# ---------------------------------------------------------------------------


@register(
    "dq_reconciliation",
    oracle="""
    WITH header AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS header_cents
        FROM orders GROUP BY month
    ), lines AS (
        SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                   * (1 + l.l_tax) * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS line_cents,
               CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders_with_lines
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY month
    )
    SELECT h.month, h.n_orders, l.n_orders_with_lines,
           h.header_cents, l.line_cents,
           CAST(h.header_cents - l.line_cents AS BIGINT) AS diff_cents,
           floor(abs(CAST(h.header_cents - l.line_cents AS DOUBLE))
                 / h.header_cents * 1000000 + 0.5) / 1000000 AS rel_gap
    FROM header h JOIN lines l USING (month)
    ORDER BY h.month
    """,
    tags=("dq", "reconciliation", "consistency"),
)
def q_dq_reconciliation(spark, sf_dir):
    """Cross-table RECONCILIATION audit — the classic ledger check
    `dq_referential_integrity` (keys) and `dq_validation_suite` (row
    rules) don't cover: does each month's order-header revenue equal the
    revenue derived from its own line items
    (Σ extendedprice·(1−discount)·(1+tax))?  A pipeline that ingests
    headers and lines through different paths drifts here first; the
    monthly grain localizes WHEN it broke.  On this synthetic corpus the
    tables are generated independently, so the audit's honest finding is
    a large stable gap — which is exactly what it exists to surface.

    INTEGER-EXACT: both sides are per-row cent-floored BIGINT sums; the
    diff is a BIGINT; only the relative gap divides.

    Scale: one grouped agg per table (the lines side joins the
    broadcast-unfriendly orders relation on its natural key — AQE picks
    the strategy) — two scans, constant output per month."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    header = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("header_cents"),
    )
    lines = (
        li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("line_cents"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders_with_lines"),
        )
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        header.join(lines, "month")
        .select(
            "month",
            "n_orders",
            "n_orders_with_lines",
            "header_cents",
            "line_cents",
            (F.col("header_cents") - F.col("line_cents")).cast("long").alias(
                "diff_cents"
            ),
            canon(
                F.abs((F.col("header_cents") - F.col("line_cents")).cast("double"))
                / F.col("header_cents")
            ).alias("rel_gap"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Poisson regression — GLM(log link) of the daily event rate by Newton
# ---------------------------------------------------------------------------


@register(
    "ml_poisson_newton",
    oracle="""
    WITH g AS (
        SELECT CAST(date_diff('day', (SELECT min(CAST(ts AS DATE)) FROM events),
                              CAST(ts AS DATE)) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY CAST(ts AS DATE)
    ), sc AS (
        SELECT t / 30.0 AS x, CAST(y AS DOUBLE) AS y FROM g
    ), seed AS (
        SELECT ln(sum(y) / count(*)) AS b0, CAST(0.0 AS DOUBLE) AS b1 FROM sc
    ), s1 AS (
        SELECT max(seed.b0) AS b0, max(seed.b1) AS b1,
               sum(exp(seed.b0 + seed.b1 * x)) AS h00,
               sum(x * exp(seed.b0 + seed.b1 * x)) AS h01,
               sum(x * x * exp(seed.b0 + seed.b1 * x)) AS h11,
               sum(y - exp(seed.b0 + seed.b1 * x)) AS g0,
               sum(x * (y - exp(seed.b0 + seed.b1 * x))) AS g1
        FROM sc CROSS JOIN seed
    ), b1s AS (
        SELECT b0 + ( h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
               b1 + (-h01 * g0 + h00 * g1) / (h00 * h11 - h01 * h01) AS b1
        FROM s1
    ), s2 AS (
        SELECT max(b.b0) AS b0, max(b.b1) AS b1,
               CAST(count(*) AS BIGINT) AS n,
               sum(exp(b.b0 + b.b1 * x)) AS h00,
               sum(x * exp(b.b0 + b.b1 * x)) AS h01,
               sum(x * x * exp(b.b0 + b.b1 * x)) AS h11,
               sum(y - exp(b.b0 + b.b1 * x)) AS g0,
               sum(x * (y - exp(b.b0 + b.b1 * x))) AS g1
        FROM sc CROSS JOIN b1s b
    )
    SELECT n AS n_days,
           floor((b0 + ( h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01))
                 * 100000 + 0.5) / 100000 AS b0,
           floor((b1 + (-h01 * g0 + h00 * g1) / (h00 * h11 - h01 * h01))
                 * 100000 + 0.5) / 100000 AS b1,
           floor(exp(b0 + ( h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01))
                 * 10000 + 0.5) / 10000 AS rate_day0,
           floor(exp((b1 + (-h01 * g0 + h00 * g1) / (h00 * h11 - h01 * h01))
                     / 30.0) * 1000000 + 0.5) / 1000000 AS daily_growth_factor
    FROM s2
    """,
    tags=("ml", "glm", "poisson", "newton"),
)
def q_ml_poisson_newton(spark, sf_dir):
    """Poisson regression (GLM, log link) of the DAILY EVENT RATE on
    time, by two exact Newton steps — the COUNT-data member of the
    exact-GLM family beside `ml_logistic_newton` (binary) and
    `ml_ridge_closed_form` (Gaussian): ln μ_d = β0 + β1·(t/30), seeded
    at the MLE-for-constant-rate (β0 = ln ȳ, β1 = 0) so every iterate is
    deterministic.  `daily_growth_factor` = exp(β1/30) is the
    multiplicative day-over-day traffic trend with correct count-data
    error structure (a Gaussian fit on counts is heteroskedastic by
    construction).

    Same architecture as the Newton/Platt chain: each step is ONE
    map-side-combined aggregation over the day grid with the 1-row
    coefficient relation cross-joined in, and the 2×2 solve is symbolic;
    both engines evaluate identical IEEE expressions (libm exp shared —
    the `ml_logistic_newton` precedent), closed by 5-dp floor canon.

    Scale: the grid is calendar-bounded; the raw table is scanned once
    for the counts — at 100 TB the fit costs one grouped count."""
    ev = load_table(spark, sf_dir, "events")
    dmin = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    g = (
        ev.crossJoin(F.broadcast(dmin))
        .groupBy(F.col("ts").cast("date").alias("day"), F.col("d0"))
        .agg(F.count("*").cast("long").alias("y"))
        .select(
            (F.datediff("day", "d0") / F.lit(30.0)).alias("x"),
            F.col("y").cast("double").alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    seed = g.agg(
        F.log(F.sum("y") / F.count("*")).alias("b0"), F.lit(0.0).alias("b1")
    )

    def newton_step(coeffs):
        mu = F.exp(F.col("b0") + F.col("b1") * F.col("x"))
        s = g.crossJoin(F.broadcast(coeffs)).agg(
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
            F.count("*").cast("long").alias("n"),
            F.sum(mu).alias("h00"),
            F.sum(F.col("x") * mu).alias("h01"),
            F.sum(F.col("x") * F.col("x") * mu).alias("h11"),
            F.sum(F.col("y") - mu).alias("g0"),
            F.sum(F.col("x") * (F.col("y") - mu)).alias("g1"),
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        return s, det

    s1, det1 = newton_step(seed)
    b1s = s1.select(
        (F.col("b0") + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det1).alias(
            "b0"
        ),
        (F.col("b1") + (-F.col("h01") * F.col("g0") + F.col("h00") * F.col("g1")) / det1).alias(
            "b1"
        ),
    )
    s2, det2 = newton_step(b1s)
    b0f = F.col("b0") + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det2
    b1f = F.col("b1") + (-F.col("h01") * F.col("g0") + F.col("h00") * F.col("g1")) / det2
    c5 = lambda col: F.floor(col * 100000 + F.lit(0.5)) / 100000  # noqa: E731
    return s2.select(
        F.col("n").alias("n_days"),
        c5(b0f).alias("b0"),
        c5(b1f).alias("b1"),
        (F.floor(F.exp(b0f) * 10000 + F.lit(0.5)) / 10000).alias("rate_day0"),
        (F.floor(F.exp(b1f / F.lit(30.0)) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "daily_growth_factor"
        ),
    )


# ---------------------------------------------------------------------------
# Tail dependence — do two series' extremes co-move?
# ---------------------------------------------------------------------------


@register(
    "stats_tail_dependence",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
    ), g AS (
        SELECT day, event_type,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY day, event_type
    ), j AS (
        SELECT a.day, a.y AS x, b.y AS y
        FROM g a JOIN g b ON b.day = a.day
        WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM j),
    tx AS (
        SELECT min(x) AS t FROM (
            SELECT x, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY x
        ), nn
        WHERE (SELECT CAST(sum(c2.c) AS BIGINT) FROM (
                   SELECT x AS x2, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY x
               ) c2 WHERE c2.x2 <= x) >= CAST(ceil(0.9 * nn.n) AS BIGINT)
    ), ty AS (
        SELECT min(y) AS t FROM (
            SELECT y, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY y
        ), nn
        WHERE (SELECT CAST(sum(c2.c) AS BIGINT) FROM (
                   SELECT y AS y2, CAST(count(*) AS BIGINT) AS c FROM j GROUP BY y
               ) c2 WHERE c2.y2 <= y) >= CAST(ceil(0.9 * nn.n) AS BIGINT)
    )
    SELECT nn.n AS n_days,
           CAST(tx.t AS BIGINT) AS x_q90_milli, CAST(ty.t AS BIGINT) AS y_q90_milli,
           CAST((SELECT count(*) FROM j WHERE x > tx.t) AS BIGINT) AS n_x_exceed,
           CAST((SELECT count(*) FROM j WHERE y > ty.t) AS BIGINT) AS n_y_exceed,
           CAST((SELECT count(*) FROM j WHERE x > tx.t AND y > ty.t) AS BIGINT)
               AS n_joint,
           CASE WHEN (SELECT count(*) FROM j WHERE y > ty.t) > 0 THEN
               floor((SELECT count(*) FROM j WHERE x > tx.t AND y > ty.t)
                     / CAST((SELECT count(*) FROM j WHERE y > ty.t) AS DOUBLE)
                     * 1000000 + 0.5) / 1000000 END AS lambda_upper,
           floor((SELECT count(*) FROM j WHERE x > tx.t)
                 * CAST((SELECT count(*) FROM j WHERE y > ty.t) AS DOUBLE)
                 / (CAST(nn.n AS DOUBLE) * nn.n) * 1000000 + 0.5) / 1000000
               AS independence_joint_rate
    FROM nn, tx, ty
    """,
    tags=("stats", "tail", "dependence", "risk"),
)
def q_stats_tail_dependence(spark, sf_dir):
    """Upper tail dependence between the click and purchase daily-mean
    series: λ̂_U = P(X > q90_X | Y > q90_Y) — do EXTREMES co-move, which
    correlation famously cannot see (two series can be ρ ≈ 0 yet crash
    together; risk lives in the joint tail).  The reported
    `independence_joint_rate` (= marginal exceedance product) is the
    null baseline: λ_U meaningfully above it is tail co-movement.

    Exactness: both series are milli-quantized integer daily means; the
    q90 thresholds are DISCRETE order statistics via the exact integer
    rule t = min{{v : #(≤ v) ≥ ⌈0.9 n⌉}} (no interpolating percentile —
    engines interpolate differently); every exceedance count is BIGINT;
    two closing divides canonicalized.

    Scale: one scan to the (day, type) grid, a self-join on day, and
    value-grid threshold scans bounded by distinct daily means — the
    calendar bound again."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            "event_type",
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y")
        )
    )
    a = g.filter(F.col("event_type") == "click").select("day", F.col("y").alias("x"))
    b = g.filter(F.col("event_type") == "purchase").select(
        "day", F.col("y").alias("yy")
    )
    j = a.join(b, "day").select("x", F.col("yy").alias("y")).localCheckpoint(
        eager=False
    )
    nn = j.agg(F.count("*").cast("long").alias("n"))

    def disc_q90(col):
        grid = j.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        cum = grid_cumsum(grid, ["c"], order_col=col)
        return (
            cum.crossJoin(F.broadcast(nn))
            .filter(
                F.col("cum_c") >= F.ceil(F.lit(0.9) * F.col("n")).cast("long")
            )
            .agg(F.min(col).cast("long").alias("t"))
        )

    tx = disc_q90("x").select(F.col("t").alias("tx"))
    ty = disc_q90("y").select(F.col("t").alias("ty"))
    jt = j.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    agg = jt.agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("tx").alias("x_q90_milli"),
        F.max("ty").alias("y_q90_milli"),
        F.sum(F.when(F.col("x") > F.col("tx"), 1).otherwise(0))
        .cast("long")
        .alias("n_x_exceed"),
        F.sum(F.when(F.col("y") > F.col("ty"), 1).otherwise(0))
        .cast("long")
        .alias("n_y_exceed"),
        F.sum(
            F.when((F.col("x") > F.col("tx")) & (F.col("y") > F.col("ty")), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_joint"),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return agg.select(
        "n_days",
        "x_q90_milli",
        "y_q90_milli",
        "n_x_exceed",
        "n_y_exceed",
        "n_joint",
        F.when(
            F.col("n_y_exceed") > 0,
            canon(F.col("n_joint") / F.col("n_y_exceed").cast("double")),
        ).alias("lambda_upper"),
        canon(
            F.col("n_x_exceed")
            * F.col("n_y_exceed").cast("double")
            / (F.col("n_days").cast("double") * F.col("n_days"))
        ).alias("independence_joint_rate"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonality — chi-square uniformity per event type
# ---------------------------------------------------------------------------


@register(
    "events_dow_seasonality",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow
        FROM events
    ), c AS (
        SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY event_type, dow
    ), t AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS k
        FROM c GROUP BY event_type
    ), chi AS (
        SELECT c.event_type, t.total, t.k,
               CAST(sum(CAST(floor(
                   (c.n - CAST(t.total AS DOUBLE) / 7.0)
                   * (c.n - CAST(t.total AS DOUBLE) / 7.0)
                   / (CAST(t.total AS DOUBLE) / 7.0) * 1000000 + 0.5)
                   AS BIGINT)) AS BIGINT) AS chi_q
        FROM c JOIN t USING (event_type)
        GROUP BY c.event_type, t.total, t.k
    )
    SELECT event_type, total AS n_events, k AS n_dows_present,
           floor(CAST(chi_q AS DOUBLE) / 1000.0 + 0.5) / 1000.0 AS chi2,
           CASE WHEN k = 7 THEN
               floor(exp(-(CAST(chi_q AS DOUBLE) / 1000000.0) / 2.0)
                     * (1.0 + (CAST(chi_q AS DOUBLE) / 1000000.0) / 2.0
                        + (CAST(chi_q AS DOUBLE) / 1000000.0)
                          * (CAST(chi_q AS DOUBLE) / 1000000.0) / 8.0)
                     * 1000000 + 0.5) / 1000000 END AS p_value
    FROM chi ORDER BY event_type
    """,
    tags=("events", "seasonality", "chi-square", "calendar"),
)
def q_events_dow_seasonality(spark, sf_dir):
    """Day-of-week seasonality gate per event type: chi-square of the DOW
    histogram against uniform — the ONE-NUMBER answer to "does this
    stream have a weekly rhythm worth modeling", which decides whether
    the weekly terms in `ml_harmonic_regression` / `ts_holt_winters`
    earn their parameters.  p uses the ELEMENTARY even-df chi-square
    survival for df = 6: Q(x) = e^{−x/2}(1 + x/2 + x²/8) — the same
    device as Kruskal-Wallis/Friedman at df = 4, one term longer.

    Exactness: counts are BIGINT; expected = total/7 and each cell's
    (O−E)²/E are identical IEEE expressions micro-quantized BEFORE the
    7-term sum; only types observed on all 7 weekdays get a p (the df
    would differ otherwise — stated, not fudged).

    Scale: two grouped aggs, output bounded by |types|·7."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.dayofweek(F.col("ts").cast("date")).cast("long").alias("dow")
    ).groupBy("event_type", "dow").agg(F.count("*").cast("long").alias("n"))
    t = c.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"), F.count("*").cast("long").alias("k")
    )
    e = F.col("total").cast("double") / F.lit(7.0)
    cell = (F.col("n") - e) * (F.col("n") - e) / e
    chi = (
        c.join(t, "event_type")
        .groupBy("event_type", "total", "k")
        .agg(
            F.sum(F.floor(cell * 1000000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("chi_q")
        )
    )
    x = F.col("chi_q").cast("double") / F.lit(1000000.0)
    p6 = F.exp(-x / 2) * (F.lit(1.0) + x / 2 + x * x / 8)
    return chi.select(
        "event_type",
        F.col("total").alias("n_events"),
        F.col("k").alias("n_dows_present"),
        (F.floor(x * 1000 + F.lit(0.5)) / 1000.0).alias("chi2"),
        F.when(
            F.col("k") == 7, F.floor(p6 * 1000000 + F.lit(0.5)) / 1000000
        ).alias("p_value"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# mSPRT — always-valid p-value monitoring of the urgent-order rate
# ---------------------------------------------------------------------------

_MSPRT_P0 = 0.2
_MSPRT_TAU2 = 0.0001  # mixture variance of the alternative drift


@register(
    "stats_msprt_always_valid",
    oracle=f"""
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                    AS BIGINT) AS u
        FROM orders GROUP BY day
    ), c AS (
        SELECT day, n, u,
               CAST(sum(u) OVER w AS BIGINT) AS cu,
               CAST(sum(n) OVER w AS BIGINT) AS cn
        FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
    ), lam AS (
        SELECT day, n, u, cu, cn,
               sqrt(({_MSPRT_P0} * {1 - _MSPRT_P0} / cn)
                    / ({_MSPRT_P0} * {1 - _MSPRT_P0} / cn + {_MSPRT_TAU2}))
               * exp((CAST(cu AS DOUBLE) / cn - {_MSPRT_P0})
                     * (CAST(cu AS DOUBLE) / cn - {_MSPRT_P0})
                     * {_MSPRT_TAU2}
                     / (2.0 * ({_MSPRT_P0} * {1 - _MSPRT_P0} / cn)
                        * ({_MSPRT_P0} * {1 - _MSPRT_P0} / cn + {_MSPRT_TAU2})))
                 AS lambda_n
        FROM c
    ), runmax AS (
        SELECT day, n, u, cn, cu, lambda_n,
               max(CAST(floor(lambda_n * 1000000000 + 0.5) AS BIGINT))
                   OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS maxlam_q
        FROM lam
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n AS n_orders, u AS n_urgent,
           floor(CAST(cu AS DOUBLE) / cn * 1000000 + 0.5) / 1000000 AS rate,
           floor(lambda_n * 1000 + 0.5) / 1000.0 AS lambda_n,
           floor(least(1.0, 1000000000.0 / maxlam_q) * 1000000 + 0.5)
               / 1000000 AS always_valid_p
    FROM runmax ORDER BY day LIMIT 120
    """,
    tags=("stats", "sequential", "msprt", "always-valid", "monitor"),
)
def q_stats_msprt_always_valid(spark, sf_dir):
    """Mixture SPRT (Robbins 1970; Johari et al. 2017, public) over the
    daily urgent-order rate: the ALWAYS-VALID p-value p_n = 1/max_{{m≤n}}
    Λ_m, where Λ is the normal-mixture likelihood ratio against
    H0: p = 0.2 with N(0, τ²) drift mixing — the "peeking-proof"
    dashboard number: unlike a fixed-horizon z-test, reading this p
    EVERY DAY and stopping when it crosses α keeps the type-I rate ≤ α.
    Completes the sequential panel: `stats_sprt_monitor` tests a simple
    alternative with a hard stop; this monitors a composite drift with a
    continuously-valid p.

    Exactness: cumulative counts are BIGINT; Λ_n is one fixed IEEE
    expression of the exact rate cu/cn (shared literals p0, τ²); the
    running max nano-quantizes Λ BEFORE maxing (max of integers), so the
    reported p is an exact integer reciprocal both engines agree on.

    Scale: the same calendar-bounded day grid as the SPRT (allow-listed
    window); first 120 days emitted — the monitoring trace."""
    o = load_table(spark, sf_dir, "orders")
    d = sprt_day_grid(o)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = d.select(
        "day",
        "n",
        "u",
        F.sum("u").over(w).cast("long").alias("cu"),
        F.sum("n").over(w).cast("long").alias("cn"),
    )
    p0, tau2 = _MSPRT_P0, _MSPRT_TAU2
    v = F.lit(p0 * (1 - p0)) / F.col("cn")
    diff = F.col("cu").cast("double") / F.col("cn") - F.lit(p0)
    lam = F.sqrt(v / (v + F.lit(tau2))) * F.exp(
        diff * diff * F.lit(tau2) / (F.lit(2.0) * v * (v + F.lit(tau2)))
    )
    lamdf = c.select(
        "day",
        "n",
        "u",
        "cn",
        "cu",
        lam.alias("lambda_n"),
    )
    runmax = lamdf.select(
        "day",
        "n",
        "u",
        "cn",
        "cu",
        "lambda_n",
        F.max(F.floor(F.col("lambda_n") * 1000000000 + F.lit(0.5)).cast("long"))
        .over(w)
        .alias("maxlam_q"),
    )
    return (
        runmax.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").alias("n_orders"),
            F.col("u").alias("n_urgent"),
            (
                F.floor(F.col("cu").cast("double") / F.col("cn") * 1000000 + F.lit(0.5))
                / 1000000
            ).alias("rate"),
            (F.floor(F.col("lambda_n") * 1000 + F.lit(0.5)) / F.lit(1000.0)).alias(
                "lambda_n"
            ),
            (
                F.floor(
                    F.least(
                        F.lit(1.0), F.lit(1000000000.0) / F.col("maxlam_q")
                    )
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("always_valid_p"),
        )
        .orderBy("day")
        .limit(120)
    )


# ---------------------------------------------------------------------------
# Bayesian A/B — exact P(pB > pA) under Beta posteriors
# ---------------------------------------------------------------------------


@register(
    "stats_bayes_ab_probability",
    oracle="""
    WITH u AS (
        SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
               max(CASE WHEN event_type = 'purchase' AND value >= 200.0
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ), s AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
        FROM u
    ), p AS (
        SELECT n_a, c_a, n_b, c_b,
               c_a + 1 AS aa, n_a - c_a + 1 AS ba,
               c_b + 1 AS ab, n_b - c_b + 1 AS bb
        FROM s
    ), kg AS (
        SELECT unnest(range(1, (SELECT CAST(n_a + n_b + 6 AS BIGINT) FROM s))) AS k
    ), lf AS (
        SELECT k,
               CAST(sum(lq) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS cumq
        FROM (SELECT k, CAST(floor(ln(CAST(k AS DOUBLE)) * 1000000000 + 0.5)
                            AS BIGINT) AS lq FROM kg)
    ), lgq AS (  -- lnGamma(n)_q = cum at k = n-1; lnGamma(1) = 0
        SELECT
            (SELECT COALESCE(max(cumq), 0) FROM lf, p WHERE lf.k = p.ba + p.bb - 1)
          - (SELECT COALESCE(max(cumq), 0) FROM lf, p
             WHERE lf.k = p.aa + p.ba + p.bb - 1)
          + (SELECT COALESCE(max(cumq), 0) FROM lf, p WHERE lf.k = p.aa + p.ba - 1)
          - (SELECT COALESCE(max(cumq), 0) FROM lf, p WHERE lf.k = p.ba - 1)
              AS lnt0_q
    ), ig AS (
        SELECT k - 1 AS i FROM kg, p WHERE k <= p.ab
    ), ratio AS (
        SELECT i,
               CAST(floor(ln(CAST(p.aa + i AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
             + CAST(floor(ln(CAST(p.bb + i AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
             - CAST(floor(ln(CAST(p.aa + p.ba + p.bb + i AS DOUBLE)) * 1000000000
                          + 0.5) AS BIGINT)
             - CAST(floor(ln(CAST(1 + i AS DOUBLE)) * 1000000000 + 0.5) AS BIGINT)
                 AS rq
        FROM ig CROSS JOIN p
    ), cum AS (
        SELECT i,
               CAST(COALESCE(sum(rq) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumbefore
        FROM ratio
    ), terms AS (
        SELECT CAST(sum(CAST(floor(
                   exp((CAST((SELECT lnt0_q FROM lgq) AS DOUBLE) + cumbefore)
                       / 1000000000.0) * 1000000000000 + 0.5) AS BIGINT))
               AS BIGINT) AS pq
        FROM cum
    )
    SELECT p.n_a, p.c_a, p.n_b, p.c_b,
           floor(CAST(t.pq AS DOUBLE) / 1000000.0 + 0.5) / 1000000.0
               AS p_b_beats_a,
           floor((CAST(p.ab AS DOUBLE) / (p.ab + p.bb)
                  - CAST(p.aa AS DOUBLE) / (p.aa + p.ba)) * 1000000 + 0.5)
               / 1000000 AS expected_lift
    FROM p CROSS JOIN terms t
    """,
    tags=("stats", "bayes", "ab-test", "beta-binomial"),
)
def q_stats_bayes_ab_probability(spark, sf_dir):
    """Bayesian A/B readout: the EXACT posterior probability
    P(p_B > p_A) under independent Beta(1,1)-prior posteriors — the
    number a decision-maker actually wants ("how likely is B better"),
    where `stats_two_proportion_z` answers the inverted frequentist
    question.  Uses the closed-form identity (Cook 2005, public)
    P = Σ_{i<a_B} B(a_A+i, b_A+b_B) / [(b_B+i)·B(1+i, b_B)·B(a_A, b_A)]
    evaluated ENTIRELY by integer-quantized logarithm arithmetic: the
    term RATIO t_{i+1}/t_i telescopes to
    (a_A+i)(b_B+i) / [(a_A+b_A+b_B+i)(1+i)], so ln t_i is the running
    sum of nano-quantized per-row log ratios (order-free integer
    cumsum), t_0's three lnΓ values come from one shared quantized
    ln-factorial grid, and each exp(ln t_i) is pico-quantized before the
    final sum — both engines walk identical integers end to end.

    Scale: the per-user conversion agg is the only corpus-sized work;
    the grids are bounded by the USER count (ln-factorial) and the
    B-arm conversion count (terms) — grid cumsums ride the
    range-partitioned `grid_cumsum`, never a single-partition sort.  The
    one driver fetch is the 4-integer arm summary used to size
    spark.range (the bounded-scalar-fetch precedent)."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 200.0), 1
            ).otherwise(0)
        ).alias("conv")
    )
    s = u.select((F.col("user_id") % 2).alias("arm"), "conv").groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    [row] = s.collect()  # bounded 4-integer fetch: sizes the ranges below
    n_a, c_a, n_b, c_b = row.n_a, row.c_a, row.n_b, row.c_b
    aa, ba, ab, bb = c_a + 1, n_a - c_a + 1, c_b + 1, n_b - c_b + 1
    nmax = n_a + n_b + 6
    lnq = lambda col: F.floor(F.log(col.cast("double")) * 1000000000 + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    kg = spark.range(1, nmax).select(F.col("id").alias("k"), lnq(F.col("id")).alias("q"))
    lf = grid_cumsum(kg, ["q"], order_col="k").select("k", F.col("cum_q").alias("cumq"))

    def lgamma_q(n: int):
        """lnGamma(n) in nano-units from the shared grid; lnGamma(1)=0."""
        if n <= 1:
            return F.lit(0).cast("long")
        return F.max(F.when(F.col("k") == n - 1, F.col("cumq"))).cast("long")

    lnt0 = lf.agg(
        (
            lgamma_q(ba + bb) - lgamma_q(aa + ba + bb) + lgamma_q(aa + ba) - lgamma_q(ba)
        ).alias("lnt0_q")
    )
    ig = spark.range(0, ab).select(F.col("id").alias("i"))
    ratio = ig.select(
        "i",
        (
            lnq(F.col("i") + aa)
            + lnq(F.col("i") + bb)
            - lnq(F.col("i") + (aa + ba + bb))
            - lnq(F.col("i") + 1)
        ).alias("rq"),
    )
    cum = grid_cumsum(ratio, ["rq"], order_col="i").select(
        "i", (F.col("cum_rq") - F.col("rq")).alias("cumbefore")
    )
    terms = cum.crossJoin(F.broadcast(lnt0)).agg(
        F.sum(
            F.floor(
                F.exp(
                    (F.col("lnt0_q") + F.col("cumbefore")).cast("double")
                    / F.lit(1000000000.0)
                )
                * 1000000000000
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("pq")
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.crossJoin(F.broadcast(terms)).select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        (
            F.floor(F.col("pq").cast("double") / F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("p_b_beats_a"),
        canon(
            F.lit(float(ab)) / F.lit(float(ab + bb))
            - F.lit(float(aa)) / F.lit(float(aa + ba))
        ).alias("expected_lift"),
    )


# ---------------------------------------------------------------------------
# Generalized ESD — iterative most-extreme-day removal over the grid
# ---------------------------------------------------------------------------


def _gesd_round_sql(i: int) -> str:
    """One unrolled GESD round: moments of the surviving grid, the round's
    most extreme day (round-9 |z| desc, day tiebreak), and the survivor
    set for the next round."""
    prev = f"g{i - 1}"
    return f"""
    , m{i} AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s, CAST(sum(y * y) AS BIGINT) AS ss
        FROM {prev}
    ), pick{i} AS (
        SELECT g.day, g.y, m.n,
               CASE WHEN CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n > 0
                    THEN abs(g.y - CAST(m.s AS DOUBLE) / m.n)
                         / sqrt((CAST(m.ss AS DOUBLE)
                                 - CAST(m.s AS DOUBLE) * m.s / m.n) / (m.n - 1))
                    ELSE 0.0 END AS r
        FROM {prev} g CROSS JOIN m{i} m
        ORDER BY round(CASE WHEN CAST(m.ss AS DOUBLE)
                                 - CAST(m.s AS DOUBLE) * m.s / m.n > 0
                    THEN abs(g.y - CAST(m.s AS DOUBLE) / m.n)
                         / sqrt((CAST(m.ss AS DOUBLE)
                                 - CAST(m.s AS DOUBLE) * m.s / m.n) / (m.n - 1))
                    ELSE 0.0 END, 9) DESC, g.day
        LIMIT 1
    ), g{i} AS (
        SELECT g.day, g.y FROM {prev} g
        WHERE g.day <> (SELECT day FROM pick{i})
    )"""


@register(
    "ts_gesd_outliers",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ), g0 AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY day
    )"""
    + "".join(_gesd_round_sql(i) for i in (1, 2, 3))
    + """
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS round, day, CAST(y AS DOUBLE) / 1000.0 AS day_mean,
               n AS n_remaining, floor(r * 1000000 + 0.5) / 1000000 AS r_stat
        FROM pick1
        UNION ALL
        SELECT CAST(2 AS BIGINT), day, CAST(y AS DOUBLE) / 1000.0, n,
               floor(r * 1000000 + 0.5) / 1000000 FROM pick2
        UNION ALL
        SELECT CAST(3 AS BIGINT), day, CAST(y AS DOUBLE) / 1000.0, n,
               floor(r * 1000000 + 0.5) / 1000000 FROM pick3
    ) ORDER BY round
    """,
    tags=("timeseries", "outliers", "gesd", "robust"),
)
def q_ts_gesd_outliers(spark, sf_dir):
    """Generalized ESD (Rosner 1983, public): three unrolled rounds of
    "remove the most extreme day, RECOMPUTE the moments, repeat" over
    the daily-mean grid — the iterative escalation of `ts_anomaly_zscore`
    that fixes MASKING: a pair of extreme days each inflate the σ the
    other is judged by, so the single-pass z-score can miss both, while
    GESD's per-round recomputation unmasks them one at a time.  The
    emitted R-statistic sequence is the evidence trail (compare each R_i
    to the Rosner critical value at your α to choose how many to
    reject).

    Exactness: the grid is the milli-quantized integer-mean device;
    per-round moments are BIGINT sums of survivors; each round's argmax
    orders by round-9 |z| with day tiebreak; removal is an exact
    day-key anti-join.

    Scale: three passes over the calendar-bounded grid (one agg + one
    TakeOrdered-1 + one anti-join each) — the raw table is scanned once
    for the grid."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
        )
        .groupBy("day")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y")
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "y")
        .localCheckpoint(eager=False)
    )
    picks = []
    for rnd in (1, 2, 3):
        m = g.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
        )
        mu = F.col("s").cast("double") / F.col("n")
        cvar = (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        sd = F.sqrt(cvar / (F.col("n") - 1))
        # zero-variance survivors (constant series after removals): R := 0
        # on both engines instead of an ANSI divide-by-zero
        r = F.when(cvar > 0, F.abs(F.col("y") - mu) / sd).otherwise(F.lit(0.0))
        pick = (
            g.crossJoin(F.broadcast(m))
            .select("day", "y", "n", r.alias("r"))
            .orderBy(F.desc(F.round("r", 9)), "day")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        picks.append((rnd, pick))
        g = g.join(pick.select("day"), "day", "left_anti").localCheckpoint(eager=False)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    out = None
    for rnd, pick in picks:
        row = pick.select(
            F.lit(rnd).cast("long").alias("round"),
            "day",
            (F.col("y").cast("double") / F.lit(1000.0)).alias("day_mean"),
            F.col("n").alias("n_remaining"),
            canon(F.col("r")).alias("r_stat"),
        )
        out = row if out is None else out.union(row)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Forecast combination — inverse-SSE weighted ensemble of three baselines
# ---------------------------------------------------------------------------


@register(
    "ts_forecast_combination",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ), g0 AS (
        SELECT event_type, day,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY event_type, day
    ), g AS (
        SELECT event_type, y,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
                    AS BIGINT) AS t,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM g0
    ), sp AS (
        SELECT event_type, n, CAST(ceil(2.0 * n / 3.0) AS BIGINT) AS k
        FROM g GROUP BY event_type, n
    ), model AS (
        SELECT g.event_type, sp.k, sp.n,
               CAST(floor(CAST(sum(g.y) AS DOUBLE) / sp.k) AS BIGINT) AS mu,
               CAST(max(CASE WHEN g.t = sp.k - 1 THEN g.y END) AS BIGINT) AS last_y,
               CAST(max(CASE WHEN g.t = 0 THEN g.y END) AS BIGINT) AS first_y
        FROM g JOIN sp USING (event_type) WHERE g.t < sp.k
        GROUP BY g.event_type, sp.k, sp.n
    ), lagged AS (
        SELECT g.event_type, g.t, g.y,
               lag(g.y) OVER (PARTITION BY g.event_type ORDER BY g.t) AS yprev
        FROM g
    ), insse AS (
        SELECT l.event_type,
               CAST(sum(CASE WHEN l.t < m.k THEN
                   CAST(floor((l.y - m.mu) * (l.y - m.mu) / 1000.0 + 0.5) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS sse_mean,
               CAST(sum(CASE WHEN l.t >= 1 AND l.t < m.k THEN
                   CAST(floor((l.y - l.yprev) * (l.y - l.yprev) / 1000.0 + 0.5)
                        AS BIGINT) ELSE 0 END) AS BIGINT) AS sse_naive,
               CAST(sum(CASE WHEN l.t >= 1 AND l.t < m.k THEN
                   CAST(floor((l.y - l.yprev
                               - CAST(m.last_y - m.first_y AS DOUBLE) / (m.k - 1))
                              * (l.y - l.yprev
                                 - CAST(m.last_y - m.first_y AS DOUBLE) / (m.k - 1))
                              / 1000.0 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
                   AS sse_drift
        FROM lagged l JOIN model m USING (event_type)
        GROUP BY l.event_type
    ), w AS (
        SELECT event_type,
               1.0 / sse_mean AS wm, 1.0 / sse_naive AS wn, 1.0 / sse_drift AS wd
        FROM insse
    ), test AS (
        SELECT g.event_type, g.y,
               CAST(m.mu AS DOUBLE) AS f_mean,
               CAST(m.last_y AS DOUBLE) AS f_naive,
               m.last_y + CAST(m.last_y - m.first_y AS DOUBLE) / (m.k - 1)
                   * (g.t - (m.k - 1)) AS f_drift
        FROM g JOIN model m USING (event_type) WHERE g.t >= m.k
    ), err AS (
        SELECT t.event_type,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CAST(floor((t.y - t.f_mean) * (t.y - t.f_mean) / 1000.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS te_mean,
               CAST(sum(CAST(floor((t.y - t.f_naive) * (t.y - t.f_naive) / 1000.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS te_naive,
               CAST(sum(CAST(floor((t.y - t.f_drift) * (t.y - t.f_drift) / 1000.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS te_drift,
               CAST(sum(CAST(floor(
                   (t.y - (w.wm * t.f_mean + w.wn * t.f_naive + w.wd * t.f_drift)
                          / (w.wm + w.wn + w.wd))
                   * (t.y - (w.wm * t.f_mean + w.wn * t.f_naive + w.wd * t.f_drift)
                            / (w.wm + w.wn + w.wd)) / 1000.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS te_combo
        FROM test t JOIN w USING (event_type)
        GROUP BY t.event_type
    )
    SELECT e.event_type, m.k AS n_train, e.n_test,
           floor(w.wm / (w.wm + w.wn + w.wd) * 1000000 + 0.5) / 1000000 AS w_mean,
           floor(w.wn / (w.wm + w.wn + w.wd) * 1000000 + 0.5) / 1000000 AS w_naive,
           floor(w.wd / (w.wm + w.wn + w.wd) * 1000000 + 0.5) / 1000000 AS w_drift,
           floor(sqrt(CAST(e.te_mean AS DOUBLE) * 1000.0 / e.n_test) / 1000.0
                 * 1000 + 0.5) / 1000 AS rmse_mean,
           floor(sqrt(CAST(e.te_naive AS DOUBLE) * 1000.0 / e.n_test) / 1000.0
                 * 1000 + 0.5) / 1000 AS rmse_naive,
           floor(sqrt(CAST(e.te_drift AS DOUBLE) * 1000.0 / e.n_test) / 1000.0
                 * 1000 + 0.5) / 1000 AS rmse_drift,
           floor(sqrt(CAST(e.te_combo AS DOUBLE) * 1000.0 / e.n_test) / 1000.0
                 * 1000 + 0.5) / 1000 AS rmse_combo
    FROM err e JOIN w USING (event_type) JOIN model m USING (event_type)
    ORDER BY e.event_type
    """,
    tags=("timeseries", "forecast", "ensemble", "combination"),
)
def q_ts_forecast_combination(spark, sf_dir):
    """Forecast COMBINATION (Bates & Granger 1969, public): per event
    type, three baseline forecasters — train mean, naive last-value,
    drift — are blended with inverse-in-sample-SSE weights and evaluated
    out-of-sample on the last third of the window.  The forecasting
    literature's most replicated finding is that this simple combination
    is about as good as the best component without knowing WHICH is best
    — the production answer to model selection under regime uncertainty,
    tying together the single-model family (`ml_seasonal_naive_eval`,
    `ts_theta_forecast`, `ts_holt_*`).

    Exactness: the grid is the milli-quantized integer-mean device;
    model parameters (train mean, endpoints, drift slope) are exact
    integers/rationals; in-sample and test squared errors are quantized
    per row BEFORE their sums; weights are single IEEE expressions of
    the integer SSEs.  Time indexes come from a per-type row_number, so
    the split is deterministic.

    Scale: one scan to the grid; everything else is per-type windows and
    grouped aggs over calendar-bounded relations."""
    ev = load_table(spark, sf_dir, "events")
    g0 = (
        ev.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y")
        )
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wp = Window.partitionBy("event_type")
    g = g0.select(
        "event_type",
        "y",
        (F.row_number().over(wo) - 1).cast("long").alias("t"),
        F.count("*").over(wp).cast("long").alias("n"),
    ).localCheckpoint(eager=False)
    k = F.ceil(F.lit(2.0) * F.col("n") / 3).cast("long")
    gk = g.withColumn("k", k)
    model = (
        gk.filter(F.col("t") < F.col("k"))
        .groupBy("event_type", "k", "n")
        .agg(
            F.floor(F.sum("y").cast("double") / F.first("k")).cast("long").alias("mu"),
            F.max(F.when(F.col("t") == F.col("k") - 1, F.col("y")))
            .cast("long")
            .alias("last_y"),
            F.max(F.when(F.col("t") == 0, F.col("y"))).cast("long").alias("first_y"),
        )
    )
    wt = Window.partitionBy("event_type").orderBy("t")
    lagged = gk.withColumn("yprev", F.lag("y").over(wt))
    slope = F.col("last_y").cast("double") - F.col("first_y")
    slope = slope / (F.col("k") - 1)
    q3 = lambda e: F.floor(e / F.lit(1000.0) + F.lit(0.5)).cast("long")  # noqa: E731
    insse = (
        lagged.join(model.select("event_type", "mu", "last_y", "first_y", F.col("k").alias("k2")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("t") < F.col("k2"),
                    q3((F.col("y") - F.col("mu")) * (F.col("y") - F.col("mu"))),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("sse_mean"),
            F.sum(
                F.when(
                    (F.col("t") >= 1) & (F.col("t") < F.col("k2")),
                    q3((F.col("y") - F.col("yprev")) * (F.col("y") - F.col("yprev"))),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("sse_naive"),
            F.sum(
                F.when(
                    (F.col("t") >= 1) & (F.col("t") < F.col("k2")),
                    q3(
                        (
                            F.col("y")
                            - F.col("yprev")
                            - (F.col("last_y").cast("double") - F.col("first_y"))
                            / (F.col("k2") - 1)
                        )
                        * (
                            F.col("y")
                            - F.col("yprev")
                            - (F.col("last_y").cast("double") - F.col("first_y"))
                            / (F.col("k2") - 1)
                        )
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("sse_drift"),
        )
    )
    w = insse.select(
        "event_type",
        (F.lit(1.0) / F.col("sse_mean")).alias("wm"),
        (F.lit(1.0) / F.col("sse_naive")).alias("wn"),
        (F.lit(1.0) / F.col("sse_drift")).alias("wd"),
    )
    test = gk.join(model.select("event_type", "mu", "last_y", "first_y", F.col("k").alias("k2")), "event_type").filter(
        F.col("t") >= F.col("k2")
    ).select(
        "event_type",
        "y",
        F.col("mu").cast("double").alias("f_mean"),
        F.col("last_y").cast("double").alias("f_naive"),
        (
            F.col("last_y")
            + (F.col("last_y").cast("double") - F.col("first_y"))
            / (F.col("k2") - 1)
            * (F.col("t") - (F.col("k2") - 1))
        ).alias("f_drift"),
    )
    combo = (
        F.col("wm") * F.col("f_mean")
        + F.col("wn") * F.col("f_naive")
        + F.col("wd") * F.col("f_drift")
    ) / (F.col("wm") + F.col("wn") + F.col("wd"))
    err = (
        test.join(w, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(q3((F.col("y") - F.col("f_mean")) * (F.col("y") - F.col("f_mean"))))
            .cast("long")
            .alias("te_mean"),
            F.sum(
                q3((F.col("y") - F.col("f_naive")) * (F.col("y") - F.col("f_naive")))
            )
            .cast("long")
            .alias("te_naive"),
            F.sum(
                q3((F.col("y") - F.col("f_drift")) * (F.col("y") - F.col("f_drift")))
            )
            .cast("long")
            .alias("te_drift"),
            F.sum(q3((F.col("y") - combo) * (F.col("y") - combo)))
            .cast("long")
            .alias("te_combo"),
        )
    )
    wsum = F.col("wm") + F.col("wn") + F.col("wd")
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    rmse = lambda c: (  # noqa: E731
        F.floor(
            F.sqrt(F.col(c).cast("double") * 1000.0 / F.col("n_test"))
            / F.lit(1000.0)
            * 1000
            + F.lit(0.5)
        )
        / 1000
    )
    return (
        err.join(w, "event_type")
        .join(model.select("event_type", F.col("k").alias("n_train")), "event_type")
        .select(
            "event_type",
            "n_train",
            "n_test",
            canon(F.col("wm") / wsum).alias("w_mean"),
            canon(F.col("wn") / wsum).alias("w_naive"),
            canon(F.col("wd") / wsum).alias("w_drift"),
            rmse("te_mean").alias("rmse_mean"),
            rmse("te_naive").alias("rmse_naive"),
            rmse("te_drift").alias("rmse_drift"),
            rmse("te_combo").alias("rmse_combo"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Threshold selection — the classifier's operating point, chosen on-grid
# ---------------------------------------------------------------------------


@register(
    "ml_threshold_selection",
    oracle=_SCORED_CTE_SQL
    + r"""
    , c AS (
        SELECT pc,
               CAST(sum(pos) OVER (ORDER BY pc DESC) AS BIGINT) AS tp,
               CAST(sum(neg) OVER (ORDER BY pc DESC) AS BIGINT) AS fp
        FROM roc_g
    ), tot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg
        FROM roc_g
    ), scoredc AS (
        SELECT c.pc, c.tp, c.fp, t.n_pos, t.n_neg,
               2.0 * c.tp / (t.n_pos + c.tp + c.fp) AS f1,
               CAST(c.tp AS DOUBLE) / t.n_pos
                 - CAST(c.fp AS DOUBLE) / t.n_neg AS youden
        FROM c CROSS JOIN tot t
    ), best_f1 AS (
        SELECT 'max_f1' AS criterion, pc, tp, fp, n_pos, n_neg, f1, youden
        FROM scoredc ORDER BY round(f1, 9) DESC, pc DESC LIMIT 1
    ), best_j AS (
        SELECT 'max_youden' AS criterion, pc, tp, fp, n_pos, n_neg, f1, youden
        FROM scoredc ORDER BY round(youden, 9) DESC, pc DESC LIMIT 1
    )
    SELECT criterion,
           floor(CAST(pc AS DOUBLE) / 1000000.0 * 1000000 + 0.5) / 1000000
               AS threshold,
           tp, fp, CAST(n_pos - tp AS BIGINT) AS fn, CAST(n_neg - fp AS BIGINT) AS tn,
           floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5) / 1000000
               AS precision_at,
           floor(CAST(tp AS DOUBLE) / n_pos * 1000000 + 0.5) / 1000000 AS recall_at,
           floor(f1 * 1000000 + 0.5) / 1000000 AS f1,
           floor(youden * 1000000 + 0.5) / 1000000 AS youden_j
    FROM (SELECT * FROM best_f1 UNION ALL SELECT * FROM best_j)
    ORDER BY criterion
    """,
    tags=("ml", "classifier", "threshold", "operating-point"),
)
def q_ml_threshold_selection(spark, sf_dir):
    """The classifier's OPERATING POINT: sweep every threshold of the
    Newton domain classifier's quantized score grid and return the two
    standard choices — max-F1 (the precision/recall compromise a filter
    deployment usually ships) and max-Youden-J (TPR − FPR, the
    prevalence-free choice) — each with its full confusion quadrant.
    `ml_pr_auc` reports that a good threshold EXISTS (best_f1);
    this returns WHICH threshold, with the numbers a rollout review
    needs.  Ties break to the HIGHER threshold (keep less, same score).

    Exactness: cumulative TP/FP are integer cumsums over the descending
    score grid; F1 and J are single ratios of BIGINTs; argmaxes order by
    round-9 stat with the pc tiebreak.

    Scale: the grid is bounded at min(n_docs, 1e6+1) rows; one
    `grid_cumsum` + two TakeOrdered-1 picks."""
    g = _scored_grid(spark, sf_dir).withColumn("npc", -F.col("pc"))
    c = grid_cumsum(
        g, ["pos", "neg"], order_col="npc", value_range=(-1000000, 0)
    ).select(
        "pc", F.col("cum_pos").alias("tp"), F.col("cum_neg").alias("fp")
    )
    tot = g.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
    )
    sc = c.crossJoin(F.broadcast(tot)).select(
        "pc",
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        (2.0 * F.col("tp") / (F.col("n_pos") + F.col("tp") + F.col("fp"))).alias("f1"),
        (
            F.col("tp").cast("double") / F.col("n_pos")
            - F.col("fp").cast("double") / F.col("n_neg")
        ).alias("youden"),
    ).localCheckpoint(eager=False)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731

    def pick(stat, label):
        return (
            sc.orderBy(F.desc(F.round(stat, 9)), F.desc("pc"))
            .limit(1)
            .select(
                F.lit(label).alias("criterion"),
                canon(F.col("pc").cast("double") / F.lit(1000000.0)).alias(
                    "threshold"
                ),
                "tp",
                "fp",
                (F.col("n_pos") - F.col("tp")).cast("long").alias("fn"),
                (F.col("n_neg") - F.col("fp")).cast("long").alias("tn"),
                canon(F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
                    "precision_at"
                ),
                canon(F.col("tp").cast("double") / F.col("n_pos")).alias("recall_at"),
                canon(F.col("f1")).alias("f1"),
                canon(F.col("youden")).alias("youden_j"),
            )
        )

    return pick(F.col("f1"), "max_f1").union(
        pick(F.col("youden"), "max_youden")
    ).orderBy("criterion")


# ---------------------------------------------------------------------------
# Anomaly consensus — three detectors vote on the daily grid
# ---------------------------------------------------------------------------


@register(
    "ts_anomaly_consensus",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
        FROM events
    ), g AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS y
        FROM d GROUP BY day
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s, CAST(sum(y * y) AS BIGINT) AS ss
        FROM g
    ), med AS (
        SELECT CAST(min(y) AS BIGINT) AS m FROM (
            SELECT y, CAST(sum(cnt) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY y)
        ), mom WHERE cum * 2 >= mom.n
    ), madg AS (
        SELECT CAST(min(a) AS BIGINT) AS mad FROM (
            SELECT a, CAST(sum(cnt) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
            FROM (SELECT abs(y - (SELECT m FROM med)) AS a,
                         CAST(count(*) AS BIGINT) AS cnt
                  FROM g GROUP BY abs(y - (SELECT m FROM med)))
        ), mom WHERE cum * 2 >= mom.n
    ), scored AS (
        SELECT g.day, g.y, mom.n,
               abs(g.y - CAST(mom.s AS DOUBLE) / mom.n)
               / sqrt((CAST(mom.ss AS DOUBLE) - CAST(mom.s AS DOUBLE) * mom.s / mom.n)
                      / (mom.n - 1)) AS z,
               CASE WHEN (SELECT mad FROM madg) > 0 THEN
                   abs(g.y - (SELECT m FROM med))
                   / (1.4826 * (SELECT mad FROM madg)) END AS rz,
               CAST(g.y - (SELECT m FROM med) AS DOUBLE)
                   / greatest((SELECT m FROM med), 1) AS rel_dev
        FROM g CROSS JOIN mom
    ), votes AS (
        SELECT day, y, z, rz, rel_dev,
               (CASE WHEN z > 2.5 THEN 1 ELSE 0 END
                + CASE WHEN rz > 2.5 THEN 1 ELSE 0 END
                + CASE WHEN abs(rel_dev) > 0.5 THEN 1 ELSE 0 END) AS n_votes
        FROM scored
    )
    SELECT day, CAST(y AS DOUBLE) / 1000.0 AS day_mean,
           floor(z * 1000000 + 0.5) / 1000000 AS z_score,
           floor(rz * 1000000 + 0.5) / 1000000 AS robust_z,
           floor(rel_dev * 1000000 + 0.5) / 1000000 AS rel_dev,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM votes WHERE n_votes >= 1
    ORDER BY day
    """,
    tags=("timeseries", "anomaly", "ensemble", "consensus"),
)
def q_ts_anomaly_consensus(spark, sf_dir):
    """Anomaly CONSENSUS over the daily-mean grid: three detectors with
    different failure modes vote — the Gaussian z (fooled by its own
    outliers inflating σ), the MAD robust z (immune to that, fooled by
    near-zero MAD on quantized flat series), and a median-relative
    deviation gate (scale-free sanity floor) — and every flagged day is
    reported WITH its vote count, so the consumer picks the consensus
    level (n_votes ≥ 2 is the false-positive-filtered tier; on this
    smooth corpus single-detector flags are the honest norm).  The ensemble argument of
    `ts_forecast_combination` applied to detection: agreement across
    detectors with uncorrelated failure modes is the cheapest
    false-positive filter there is.  Complements the escalation path:
    one-shot consensus here, iterative `ts_gesd_outliers` when masking
    is suspected, per-key `ts_mad_outliers`/`ts_hampel_filter` for keyed
    streams.

    Exactness: integer milli-mean grid; exact discrete medians via the
    cum·2 ≥ n rule on value grids (the `stats_median_mode` device);
    MAD guarded against zero; every score a single IEEE expression;
    thresholds are literals.

    Scale: one scan to the grid; medians ride bounded value grids — the
    calendar bound throughout."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("v"),
        )
        .groupBy("day")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*")).cast("long").alias("y")
        )
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "y")
        .localCheckpoint(eager=False)
    )
    mom = g.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )

    def disc_median(df, col, nrel):
        # plain cumulative window over the VALUE grid: bounded by distinct
        # daily means <= |calendar| (allow-listed), and an order of
        # magnitude cheaper to ANALYZE than a nested grid_cumsum subplan —
        # this query builds five scalar relations from it, and the deep
        # variant cost ~14 s of pure driver-side analysis
        grid = df.groupBy(col).agg(F.count("*").cast("long").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cum = grid.select(col, F.sum("cnt").over(w).cast("long").alias("cum_cnt"))
        return (
            cum.crossJoin(F.broadcast(nrel))
            .filter(F.col("cum_cnt") * 2 >= F.col("n"))
            .agg(F.min(col).cast("long").alias("m"))
        )

    med = disc_median(g, "y", mom)
    dev = g.crossJoin(F.broadcast(med)).select(
        "day", "y", F.abs(F.col("y") - F.col("m")).alias("a"), "m"
    )
    madg = disc_median(dev, "a", mom).select(F.col("m").alias("mad"))
    nD = F.col("n").cast("double")
    z = F.abs(F.col("y") - F.col("s").cast("double") / nD) / F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nD)
        / (nD - 1)
    )
    rz = F.when(
        F.col("mad") > 0,
        F.abs(F.col("y") - F.col("m")) / (F.lit(1.4826) * F.col("mad")),
    )
    rel = (F.col("y") - F.col("m")).cast("double") / F.greatest(
        F.col("m"), F.lit(1)
    )
    # ONE analyzed 1-row model relation instead of three nested broadcast
    # crossJoins: the med/madg subplans each embed a grid_cumsum, and
    # Spark's eager analysis of the repeatedly-recombined deep plan cost
    # ~9 s of pure driver time (the elastic-net lesson, plan-shape edition)
    stats1 = (
        mom.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(madg))
        .localCheckpoint(eager=False)
    )
    scored = g.crossJoin(F.broadcast(stats1)).select(
        "day",
        "y",
        z.alias("z"),
        rz.alias("rz"),
        rel.alias("rel_dev"),
    )
    votes = scored.withColumn(
        "n_votes",
        F.when(F.col("z") > 2.5, 1).otherwise(0)
        + F.when(F.col("rz") > 2.5, 1).otherwise(0)
        + F.when(F.abs(F.col("rel_dev")) > 0.5, 1).otherwise(0),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return (
        votes.filter(F.col("n_votes") >= 1)
        .select(
            "day",
            (F.col("y").cast("double") / F.lit(1000.0)).alias("day_mean"),
            canon(F.col("z")).alias("z_score"),
            canon(F.col("rz")).alias("robust_z"),
            canon(F.col("rel_dev")).alias("rel_dev"),
            F.col("n_votes").cast("long").alias("n_votes"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# r11 wave 1: multiple testing, two-sample GoF, sequential drift
# ---------------------------------------------------------------------------

_BH_Q = 0.10
_LONG_DOC = 200


@register(
    "stats_benjamini_hochberg",
    oracle=f"""
    WITH b AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN n_chars >= {_LONG_DOC} THEN 1 ELSE 0 END) AS BIGINT) AS c
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(c) AS BIGINT) AS cc,
               CAST(count(*) AS BIGINT) AS m
        FROM b
    ), z AS (
        SELECT b.source, b.n, b.c, t.m,
               (b.c / CAST(b.n AS DOUBLE)
                - (t.cc - b.c) / CAST(t.nn - b.n AS DOUBLE))
               / sqrt((t.cc / CAST(t.nn AS DOUBLE))
                      * (1.0 - t.cc / CAST(t.nn AS DOUBLE))
                      * (1.0 / b.n + 1.0 / (t.nn - b.n))) AS zv
        FROM b CROSS JOIN tot t
    ), p AS (
        SELECT source, n, c, m, {{P}} AS pv
        FROM z
    ), r AS (
        SELECT source, n, c, m, pv,
               CAST(row_number() OVER (ORDER BY pv, source) AS BIGINT) AS bh_rank
        FROM p
    ), adj AS (
        SELECT r.*,
               least(1.0, min((m * pv) / bh_rank)
                   OVER (ORDER BY bh_rank DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj,
               max(CASE WHEN pv <= (CAST(bh_rank AS DOUBLE) * {_BH_Q}) / m
                        THEN bh_rank END) OVER () AS k
        FROM r
    )
    SELECT source, n AS n_docs, c AS n_long,
           floor(pv * 1000000 + 0.5) / 1000000 AS p_value,
           bh_rank,
           floor(padj * 1000000 + 0.5) / 1000000 AS p_adj,
           CAST(CASE WHEN k IS NOT NULL AND bh_rank <= k THEN 1 ELSE 0 END
                AS BIGINT) AS rejected
    FROM adj
    """.replace("{P}", p_two_sided_sql("z.zv")),
    tags=("stats", "fdr", "multiple-testing"),
)
def q_stats_benjamini_hochberg(spark, sf_dir):
    """Benjamini–Hochberg FDR control (q = 0.10) over a per-source family
    of two-proportion z-tests ("does this source's long-doc rate differ
    from the rest?") — the multiple-testing layer every per-slice quality
    monitor needs once it runs one test per source/domain/shard: at
    hundreds of slices, uncorrected p < 0.05 alarms fire constantly.

    Step-up rule: sort the m p-values ascending, k = max{i: p_(i) <=
    i*q/m}, reject ranks 1..k; adjusted p_(i) = min over j>=i of (m*p_(j)/j)
    capped at 1 (the running-min-from-the-top form).  Exactness: counts
    are exact BIGINTs, every z/p expression is the shared A&S device
    (`p_two_sided`), and the step-up scan runs over the m-row (=|sources|)
    relation — the global windows are bounded by the family size, never
    by data volume; at 100 TB the cost is the one counting scan."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("n_chars") >= _LONG_DOC, 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    tot = b.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("c").cast("long").alias("cc"),
        F.count("*").cast("long").alias("m"),
    )
    z = b.crossJoin(F.broadcast(tot)).withColumn(
        "zv",
        (
            F.col("c") / F.col("n").cast("double")
            - (F.col("cc") - F.col("c")) / (F.col("nn") - F.col("n")).cast("double")
        )
        / F.sqrt(
            (F.col("cc") / F.col("nn").cast("double"))
            * (F.lit(1.0) - F.col("cc") / F.col("nn").cast("double"))
            * (F.lit(1.0) / F.col("n") + F.lit(1.0) / (F.col("nn") - F.col("n")))
        ),
    )
    p = z.withColumn("pv", p_two_sided(F.col("zv")))
    wr = Window.partitionBy(F.lit(0)).orderBy("pv", "source")
    r = p.withColumn("bh_rank", F.row_number().over(wr).cast("long"))
    wdesc = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.desc("bh_rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(F.lit(0))
    adj = r.withColumn(
        "padj",
        F.least(F.lit(1.0), F.min((F.col("m") * F.col("pv")) / F.col("bh_rank")).over(wdesc)),
    ).withColumn(
        "k",
        F.max(
            F.when(
                F.col("pv")
                <= (F.col("bh_rank").cast("double") * F.lit(_BH_Q)) / F.col("m"),
                F.col("bh_rank"),
            )
        ).over(wall),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return adj.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("c").alias("n_long"),
        canon(F.col("pv")).alias("p_value"),
        "bh_rank",
        canon(F.col("padj")).alias("p_adj"),
        F.when(F.col("k").isNotNull() & (F.col("bh_rank") <= F.col("k")), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
    WITH g AS (
        SELECT n_chars AS v,
               CAST(count(*) FILTER (source = 'src0') AS BIGINT) AS c1,
               CAST(count(*) FILTER (source = 'src1') AS BIGINT) AS c2
        FROM documents WHERE source IN ('src0', 'src1')
        GROUP BY n_chars
    ), w AS (
        SELECT v,
               CAST(sum(c1) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS a1,
               CAST(sum(c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS a2
        FROM g
    ), t AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g
    ), dmax AS (
        SELECT CAST(max(abs(a1 * t.n2 - a2 * t.n1)) AS BIGINT) AS dnum,
               any_value(t.n1) AS n1, any_value(t.n2) AS n2
        FROM w CROSS JOIN t
    ), s AS (
        SELECT n1, n2, dnum,
               CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS d,
               (sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) + 0.12
                + 0.11 / sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)))
               * (CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) AS lam
        FROM dmax
    )
    SELECT n1, n2, dnum,
           round(d, 9) AS ks_d,
           floor(lam * 1000000 + 0.5) / 1000000 AS ks_lambda,
           floor(least(1.0, greatest(0.0,
                 2.0 * (exp(-2.0 * lam * lam)
                        - exp(-8.0 * lam * lam)
                        + exp(-18.0 * lam * lam)))) * 1000000 + 0.5) / 1000000
               AS p_value
    FROM s
    """,
    tags=("stats", "ks", "goodness-of-fit", "two-sample"),
)
def q_stats_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov test on the n_chars distributions of
    src0 vs src1 — the distribution-shift detector that sees SHAPE changes
    (`stats_psi_drift` bins; KS compares whole ECDFs; `stats_anderson_darling`
    weights the tails).  D is computed EXACTLY in integers: with cumulative
    counts a1, a2 at each distinct value, D = max|a1·n2 − a2·n1|/(n1·n2) —
    the numerator is a BIGINT, so the max is order-immune; only the final
    division and the Stephens-approximation p-value (λ = (√(n1n2/(n1+n2)) +
    0.12 + 0.11/√(·))·D, Q(λ) = 2Σ_{k≤3}(−1)^{k−1}e^{−2k²λ²}) return to
    identically-evaluated doubles.

    Scale: one grouped count by value (map-side combined), then cumulative
    sums over the DISTINCT-VALUE grid — bounded by the value domain
    (|distinct n_chars| ≪ rows), not by data volume; the single-sequence
    window is over that bounded grid."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    g = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).cast("long").alias("c2"),
    )
    wcum = (
        Window.partitionBy(F.lit(0))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = g.select(
        "v",
        F.sum("c1").over(wcum).cast("long").alias("a1"),
        F.sum("c2").over(wcum).cast("long").alias("a2"),
    )
    t = g.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    dmax = (
        w.crossJoin(F.broadcast(t))
        .agg(
            F.max(F.abs(F.col("a1") * F.col("n2") - F.col("a2") * F.col("n1")))
            .cast("long")
            .alias("dnum"),
            F.any_value("n1").alias("n1"),
            F.any_value("n2").alias("n2"),
        )
    )
    n1d = F.col("n1").cast("double")
    d = F.col("dnum").cast("double") / (n1d * F.col("n2"))
    ne = F.sqrt(n1d * F.col("n2") / (F.col("n1") + F.col("n2")))
    lam = (ne + F.lit(0.12) + F.lit(0.11) / ne) * d
    s = dmax.select("n1", "n2", "dnum", d.alias("d"), lam.alias("lam"))
    q = F.lit(2.0) * (
        F.exp(F.lit(-2.0) * F.col("lam") * F.col("lam"))
        - F.exp(F.lit(-8.0) * F.col("lam") * F.col("lam"))
        + F.exp(F.lit(-18.0) * F.col("lam") * F.col("lam"))
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return s.select(
        "n1",
        "n2",
        "dnum",
        F.round("d", 9).alias("ks_d"),
        canon(F.col("lam")).alias("ks_lambda"),
        canon(F.least(F.lit(1.0), F.greatest(F.lit(0.0), q))).alias("p_value"),
    )


@register(
    "stats_page_hinkley",
    oracle="""
    WITH d AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS xc
        FROM events GROUP BY day
    ), o AS (
        SELECT day, xc,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(sum(xc) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        FROM d
    ), q AS (
        SELECT day, xc, t,
               CAST(floor((xc - CAST(s AS DOUBLE) / t) / 100.0 * 1000000 + 0.5)
                    AS BIGINT) AS tq
        FROM o
    ), m AS (
        SELECT day, xc, t,
               CAST(sum(tq) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mt
        FROM q
    ), ph AS (
        SELECT day, xc, t, mt,
               mt - CAST(min(mt) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS phq
        FROM m
    )
    SELECT day, round(xc / 100.0, 2) AS day_total, t AS day_index,
           round(phq / 1000000.0, 6) AS ph_stat,
           CAST(CASE WHEN phq = max(phq) OVER () AND phq > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_peak
    FROM ph
    """,
    tags=("stats", "drift", "changepoint", "sequential"),
)
def q_stats_page_hinkley(spark, sf_dir):
    """Page–Hinkley upward mean-shift detector over the daily total value
    series: PH_T = M_T − min_{t≤T} M_t with M_T = Σ_{t≤T}(x_t − x̄_t), x̄_t
    the RUNNING mean — the sequential-drift sibling of `ts_cusum_drift`
    (which deviates from the FIXED whole-series mean) and the offline
    complement of `stats_sprt_monitor`.  The day with peak PH is the
    changepoint estimate.

    Exactness: daily totals are exact cent BIGINTs; the running mean s/t
    is one identical IEEE division; each deviation is quantized to 1e-6
    BEFORE the cumulative sum, so M and PH are integer micro-units — the
    windows sum integers and are order-immune (the `ml_learning_curve_ar`
    quantize-then-integer-sum device; a raw double cumsum would expose
    DuckDB's segment-tree summation order vs Spark's sequential frame).

    Scale: one day-grid aggregation (map-side combined); all windows run
    over the bounded day grid, never over raw rows."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("xc")
    )
    wday = Window.partitionBy(F.lit(0)).orderBy("day")
    wcum = wday.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = d.select(
        "day",
        "xc",
        F.row_number().over(wday).cast("long").alias("t"),
        F.sum("xc").over(wcum).cast("long").alias("s"),
    )
    q = o.withColumn(
        "tq",
        F.floor(
            (F.col("xc") - F.col("s").cast("double") / F.col("t")) / F.lit(100.0)
            * 1000000
            + F.lit(0.5)
        ).cast("long"),
    )
    m = q.withColumn("mt", F.sum("tq").over(wcum).cast("long"))
    ph = m.withColumn(
        "phq", F.col("mt") - F.min("mt").over(wcum).cast("long")
    )
    wall = Window.partitionBy(F.lit(0))
    return ph.select(
        "day",
        F.round(F.col("xc") / 100.0, 2).alias("day_total"),
        F.col("t").alias("day_index"),
        F.round(F.col("phq") / 1000000.0, 6).alias("ph_stat"),
        F.when((F.col("phq") == F.max("phq").over(wall)) & (F.col("phq") > 0), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_peak"),
    )


@register(
    "ml_negative_binomial_mm",
    oracle="""
    WITH d AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, day
    ), g AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM d GROUP BY user_id
    ), m AS (
        SELECT user_id, n_days,
               CAST(s1 AS DOUBLE) / n_days AS mu,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_days)
                   / (n_days - 1) AS v
        FROM g WHERE n_days >= 5
    )
    SELECT user_id, n_days,
           floor(mu * 1000000 + 0.5) / 1000000 AS mean_per_day,
           floor(v * 1000000 + 0.5) / 1000000 AS var_per_day,
           CAST(CASE WHEN v > mu THEN 1 ELSE 0 END AS BIGINT) AS overdispersed,
           CASE WHEN v > mu
                THEN floor((mu * mu) / (v - mu) * 1000000 + 0.5) / 1000000
           END AS nb_k,
           CASE WHEN v > mu
                THEN floor((mu / v) * 1000000 + 0.5) / 1000000
           END AS nb_p
    FROM m
    """,
    tags=("ml", "count-model", "overdispersion"),
)
def q_ml_negative_binomial_mm(spark, sf_dir):
    """Negative-binomial dispersion fit (method of moments) on per-user
    daily event counts — the Poisson-adequacy check `ml_poisson_newton`'s
    rate model needs: when Var > mean (overdispersion), the NB size k̂ =
    μ²/(s²−μ) and p̂ = μ/s² parameterize the corrected count model; keys
    with s² ≤ μ are flagged not-overdispersed (NULL k̂ — Poisson is fine).

    Exactness: counts and their squares are exact BIGINTs; μ and the
    unbiased s² are single identical rational→double expressions.  Scale:
    two grouped integer aggregations (day grid, then per key), both
    map-side combined — no window, no shuffle beyond the two keyed aggs."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").cast("long").alias("c")
    )
    g = d.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_days")
    v = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    m = g.filter(F.col("n_days") >= 5).select(
        "user_id", "n_days", mu.alias("mu"), v.alias("v")
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    over = F.col("v") > F.col("mu")
    return m.select(
        "user_id",
        "n_days",
        canon(F.col("mu")).alias("mean_per_day"),
        canon(F.col("v")).alias("var_per_day"),
        F.when(over, 1).otherwise(0).cast("long").alias("overdispersed"),
        F.when(
            over,
            canon((F.col("mu") * F.col("mu")) / (F.col("v") - F.col("mu"))),
        ).alias("nb_k"),
        F.when(over, canon(F.col("mu") / F.col("v"))).alias("nb_p"),
    )


_HUBER_C = 20.0


def _huber_oracle() -> str:
    """CTE chain: integer features → OLS Gram/solve → two unrolled IRLS
    rounds with 1e-6-quantized Huber weights → final coefficients + OLS
    baseline + downweight count.  Solve text is `_LOGISTIC_SOLVE_SQL`
    (the shared adjugate parenthesization)."""
    feats = r"""
    WITH d AS (
        SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS x1,
               CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS x2,
               CAST(n_chars AS BIGINT) AS y
        FROM documents
    )"""
    solve = _LOGISTIC_SOLVE_SQL

    def gram_w(w_cte: str, out: str) -> str:
        return f"""{out}_i AS (
        SELECT CAST(sum(wq) AS BIGINT) AS i11,
               CAST(sum(wq * x1) AS BIGINT) AS i12,
               CAST(sum(wq * x2) AS BIGINT) AS i13,
               CAST(sum(wq * x1 * x1) AS BIGINT) AS i22,
               CAST(sum(wq * x1 * x2) AS BIGINT) AS i23,
               CAST(sum(wq * x2 * x2) AS BIGINT) AS i33,
               CAST(sum(wq * y) AS BIGINT) AS iy1,
               CAST(sum(wq * x1 * y) AS BIGINT) AS iy2,
               CAST(sum(wq * x2 * y) AS BIGINT) AS iy3
        FROM {w_cte}
    ), {out} AS (
        SELECT CAST(i11 AS DOUBLE) AS s11, CAST(i12 AS DOUBLE) AS s12,
               CAST(i13 AS DOUBLE) AS s13, CAST(i22 AS DOUBLE) AS s22,
               CAST(i23 AS DOUBLE) AS s23, CAST(i33 AS DOUBLE) AS s33,
               CAST(iy1 AS DOUBLE) AS g1, CAST(iy2 AS DOUBLE) AS g2,
               CAST(iy3 AS DOUBLE) AS g3
        FROM {out}_i
    )"""

    def weights(coef: str, out: str) -> str:
        r = f"(CAST(d.y AS DOUBLE) - ({coef}.c0 + {coef}.c1 * d.x1 + {coef}.c2 * d.x2))"
        return f"""{out} AS (
        SELECT d.x1, d.x2, d.y,
               CASE WHEN abs({r}) <= {_HUBER_C!r} THEN 1000000
                    ELSE CAST(floor({_HUBER_C!r} / abs({r}) * 1000000 + 0.5) AS BIGINT)
               END AS wq
        FROM d CROSS JOIN {coef}
    )"""

    g0 = """g0_i AS (
        SELECT CAST(count(*) AS BIGINT) AS i11,
               CAST(sum(x1) AS BIGINT) AS i12, CAST(sum(x2) AS BIGINT) AS i13,
               CAST(sum(x1 * x1) AS BIGINT) AS i22,
               CAST(sum(x1 * x2) AS BIGINT) AS i23,
               CAST(sum(x2 * x2) AS BIGINT) AS i33,
               CAST(sum(y) AS BIGINT) AS iy1,
               CAST(sum(x1 * y) AS BIGINT) AS iy2,
               CAST(sum(x2 * y) AS BIGINT) AS iy3
        FROM d
    ), g0 AS (
        SELECT CAST(i11 AS DOUBLE) AS s11, CAST(i12 AS DOUBLE) AS s12,
               CAST(i13 AS DOUBLE) AS s13, CAST(i22 AS DOUBLE) AS s22,
               CAST(i23 AS DOUBLE) AS s23, CAST(i33 AS DOUBLE) AS s33,
               CAST(iy1 AS DOUBLE) AS g1, CAST(iy2 AS DOUBLE) AS g2,
               CAST(iy3 AS DOUBLE) AS g3
        FROM g0_i
    )"""
    c = lambda src, out: (  # noqa: E731
        f"{out} AS (SELECT "
        + solve.format(scale="1.0", c0="c0", c1="c1", c2="c2")
        + f" FROM {src})"
    )
    return f"""
    {feats}, {g0}, {c('g0', 'coef0')},
    {weights('coef0', 'w1')}, {gram_w('w1', 'g1')}, {c('g1', 'coef1')},
    {weights('coef1', 'w2')}, {gram_w('w2', 'g2')}, {c('g2', 'coef2')},
    {weights('coef2', 'wf')},
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN wq < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_downweighted
           FROM wf)
    SELECT nd.n, nd.n_downweighted,
           floor(o.c0 * 1000000 + 0.5) / 1000000 AS b0_ols,
           floor(o.c1 * 1000000 + 0.5) / 1000000 AS b1_ols,
           floor(o.c2 * 1000000 + 0.5) / 1000000 AS b2_ols,
           floor(h.c0 * 1000000 + 0.5) / 1000000 AS b0_huber,
           floor(h.c1 * 1000000 + 0.5) / 1000000 AS b1_huber,
           floor(h.c2 * 1000000 + 0.5) / 1000000 AS b2_huber
    FROM nd CROSS JOIN coef0 o CROSS JOIN coef2 h
    """


@register(
    "ml_huber_irls",
    oracle=_huber_oracle(),
    tags=("ml", "robust", "irls", "regression"),
)
def q_ml_huber_irls(spark, sf_dir):
    """Huber robust regression (c = 20 chars) of n_chars on (token count,
    vowel count) by TWO unrolled IRLS rounds from the OLS start — the
    outlier-resistant complement of `ml_ridge_closed_form`/`ml_elastic_net_cd`:
    rows with |residual| > c get weight c/|r| instead of 1, so heavy-tailed
    documents stop dominating the fit.  Output compares OLS vs Huber
    coefficients and counts downweighted rows.

    Exactness: features are integers; per-row Huber weights are quantized
    to 1e-6 BIGINTs (the identical CASE expression in both engines —
    residuals come from bit-identical coefficients, see below), so every
    weighted Gram moment is an exact BIGINT sum (order-immune); each round's
    3×3 solve is the shared `_solve3` / `_LOGISTIC_SOLVE_SQL` adjugate
    parenthesization — coefficients stay bit-identical round over round.

    Scale: IRLS with R rounds = R+1 scans of documents, each a map-side-
    combined 9-moment aggregation with a 1-row broadcast of the previous
    coefficients — no shuffle beyond the scalar aggs; weighted moments at
    1e-6×500×577 per row stay under 2^63 to ~5e13 docs."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("x1"),
        F.length(F.regexp_replace(F.col("text"), "[^aeiou]", "")).cast("long").alias("x2"),
        F.col("n_chars").cast("long").alias("y"),
    )

    def gram(src, weighted):
        wq = F.col("wq") if weighted else F.lit(1).cast("long")
        return src.agg(
            F.sum(wq).cast("long").alias("i11"),
            F.sum(wq * F.col("x1")).cast("long").alias("i12"),
            F.sum(wq * F.col("x2")).cast("long").alias("i13"),
            F.sum(wq * F.col("x1") * F.col("x1")).cast("long").alias("i22"),
            F.sum(wq * F.col("x1") * F.col("x2")).cast("long").alias("i23"),
            F.sum(wq * F.col("x2") * F.col("x2")).cast("long").alias("i33"),
            F.sum(wq * F.col("y")).cast("long").alias("iy1"),
            F.sum(wq * F.col("x1") * F.col("y")).cast("long").alias("iy2"),
            F.sum(wq * F.col("x2") * F.col("y")).cast("long").alias("iy3"),
        )

    def solve(g):
        s = lambda c: F.col(c).cast("double")  # noqa: E731
        c0, c1, c2 = _solve3(
            s("i11"), s("i12"), s("i13"), s("i22"), s("i23"), s("i33"),
            s("iy1"), s("iy2"), s("iy3"), F.lit(1.0),
        )
        return g.select(c0.alias("c0"), c1.alias("c1"), c2.alias("c2"))

    def weights(coef):
        r = F.col("y").cast("double") - (
            F.col("c0") + F.col("c1") * F.col("x1") + F.col("c2") * F.col("x2")
        )
        wq = F.when(F.abs(r) <= _HUBER_C, F.lit(1000000).cast("long")).otherwise(
            F.floor(F.lit(_HUBER_C) / F.abs(r) * 1000000 + F.lit(0.5)).cast("long")
        )
        return d.crossJoin(F.broadcast(coef)).withColumn("wq", wq)

    coef0 = solve(gram(d, weighted=False))
    coef1 = solve(gram(weights(coef0), weighted=True))
    coef2 = solve(gram(weights(coef1), weighted=True))
    wf = weights(coef2)
    nd = wf.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("wq") < 1000000, 1).otherwise(0))
        .cast("long")
        .alias("n_downweighted"),
    )
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    o = coef0.select(
        canon(F.col("c0")).alias("b0_ols"),
        canon(F.col("c1")).alias("b1_ols"),
        canon(F.col("c2")).alias("b2_ols"),
    )
    h = coef2.select(
        canon(F.col("c0")).alias("b0_huber"),
        canon(F.col("c1")).alias("b1_huber"),
        canon(F.col("c2")).alias("b2_huber"),
    )
    return nd.crossJoin(F.broadcast(o)).crossJoin(F.broadcast(h)).select(
        "n", "n_downweighted",
        "b0_ols", "b1_ols", "b2_ols", "b0_huber", "b1_huber", "b2_huber",
    )
