"""Rolling / resampling time-series operators extending the reference's
window family (W1-W4): moving statistics, EWMA, fixed-grid resampling with
gap-fill, and quantiles. Window-function compositions — one hash partition
per key — except the EWMA recurrence, which is an Arrow-batched per-key
``applyInPandas`` fold (the one shape Catalyst windows cannot express in
O(n)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from ..catalog import load_table
from ..operators.asof import asof_join
from ..plans.registry import register

__all__ = ["rolling_stats", "ewma", "holt_linear", "holt_winters", "resample_grid"]


def rolling_stats(
    df: DataFrame,
    n: int = 5,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Trailing-n moving avg/min/max/stddev per key (the reference recomputes
    these over the whole history per plot tick, A2/A3 — here a proper
    bounded row frame)."""
    w = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(-(n - 1), Window.currentRow)
    )
    return df.select(
        key,
        tiebreak,
        value,
        F.avg(value).over(w).alias("roll_avg"),
        F.min(value).over(w).alias("roll_min"),
        F.max(value).over(w).alias("roll_max"),
        F.stddev_samp(value).over(w).alias("roll_std"),
        F.count(value).over(w).alias("roll_n"),
    )


def ewma(
    df: DataFrame,
    alpha: float = 0.3,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
    out: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average, exact recursive form
    (ewma_t = α·x_t + (1-α)·ewma_{t-1}, seeded with the first value).

    Scale shape: one hash shuffle on ``key`` + in-partition sort, then ONE
    ``mapInPandas`` pass per partition — the accumulator dict lives in the
    iterator closure, so key groups spanning Arrow batch boundaries fold
    correctly and Python is entered once per *partition*, not once per key
    (the previous ``applyInPandas`` form paid a pandas round-trip per group;
    with thousands of short keys that overhead was ~6× the query).  The
    former ``collect_list``-prefix form before that carried an i-element
    array on row i (O(n²) per key).  A recurrence with a data-dependent
    decay has no O(n) Catalyst window form, so this is the sanctioned
    Arrow-batched Python crossing; the per-step float ops (α·x + (1-α)·acc)
    are IEEE-identical to DuckDB's ``list_reduce`` fold, keeping bit-exact
    oracle parity.  For unbounded streams the stateful gate
    (streaming/stateful.py) carries the same recursion in O(1) state.
    """
    schema = StructType(list(df.schema.fields) + [StructField(out, DoubleType())])
    a, b = float(alpha), 1.0 - float(alpha)

    part = df.repartition(key).sortWithinPartitions(key, ts, tiebreak)

    def fold(batches):
        last_key, acc = object(), 0.0  # sentinel never equals a real key
        for pdf in batches:
            vals = pdf[value].to_numpy(dtype="float64")
            keys = pdf[key].to_numpy()
            res = [0.0] * len(vals)
            for i in range(len(vals)):
                k = keys[i]
                if k != last_key:
                    last_key, acc = k, float(vals[i])
                else:
                    acc = a * float(vals[i]) + b * acc
                res[i] = acc
            yield pdf.assign(**{out: res})

    return part.mapInPandas(fold, schema=schema)


def holt_linear(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing, exact recursive
    form — the natural next step from the reference's single-series
    forecasting loop (``lvmh_forecaster2.py`` trains on the level only;
    Holt adds an explicit trend state):

        level_t = α·x_t + (1-α)·(level_{t-1} + trend_{t-1})
        trend_t = β·(level_t - level_{t-1}) + (1-β)·trend_{t-1}

    seeded level_1 = x_1, trend_1 = 0. Emits level, trend, and the
    one-step-ahead forecast level+trend per row.

    Same scale shape as :func:`ewma`: one hash shuffle on ``key`` +
    in-partition sort, then a single ``mapInPandas`` pass with the
    (level, trend) accumulator carried across Arrow batches in the
    iterator closure — O(1) state per key, Python entered once per
    partition. The streaming twin would carry (level, trend) in
    ``applyInPandasWithState`` state like the gates in
    ``streaming/stateful.py``.
    """
    fields = [f for f in df.schema.fields]
    schema = StructType(
        fields
        + [
            StructField("holt_level", DoubleType()),
            StructField("holt_trend", DoubleType()),
        ]
    )
    a, oma = float(alpha), 1.0 - float(alpha)
    b, omb = float(beta), 1.0 - float(beta)

    part = df.repartition(key).sortWithinPartitions(key, ts, tiebreak)

    def fold(batches):
        last_key, lvl, trd = object(), 0.0, 0.0
        for pdf in batches:
            vals = pdf[value].to_numpy(dtype="float64")
            keys = pdf[key].to_numpy()
            levels = [0.0] * len(vals)
            trends = [0.0] * len(vals)
            for i in range(len(vals)):
                k = keys[i]
                x = float(vals[i])
                if k != last_key:
                    last_key, lvl, trd = k, x, 0.0
                else:
                    new_lvl = a * x + oma * (lvl + trd)
                    trd = b * (new_lvl - lvl) + omb * trd
                    lvl = new_lvl
                levels[i] = lvl
                trends[i] = trd
            yield pdf.assign(holt_level=levels, holt_trend=trends)

    return part.mapInPandas(fold, schema=schema)


def holt_winters(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.2,
    period: int = 24,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Additive Holt-Winters (level + trend + period-``m`` seasonal), exact
    recursive form with zero-initialized seasonals:

        idx_t    = (t-1) mod m
        level_t  = α·(x_t − s_{idx}) + (1-α)·(level + trend)
        trend_t  = β·(level_t − level) + (1-β)·trend
        s_idx    ← γ·(x_t − level_t) + (1-γ)·s_idx

    seeded level_1 = x_1, trend_1 = 0, s ≡ 0. The zero-init variant keeps
    the recurrence deterministic and engine-reproducible (the DuckDB
    oracle threads the seasonal array through a recursive CTE with an
    index-lambda ``list_transform``); a production fit would warm-start
    the seasonals from the first period's means.

    Same scale shape as :func:`ewma`/:func:`holt_linear`: one hash shuffle
    on ``key`` + in-partition sort, ONE ``mapInPandas`` pass, O(period)
    state per key carried across Arrow batches in the iterator closure.
    """
    fields = [f for f in df.schema.fields]
    schema = StructType(
        fields
        + [
            StructField("hw_level", DoubleType()),
            StructField("hw_trend", DoubleType()),
            StructField("hw_seasonal", DoubleType()),
        ]
    )
    a, oma = float(alpha), 1.0 - float(alpha)
    b, omb = float(beta), 1.0 - float(beta)
    g, omg = float(gamma), 1.0 - float(gamma)
    m = int(period)

    part = df.repartition(key).sortWithinPartitions(key, ts, tiebreak)

    def fold(batches):
        last_key, lvl, trd, seas, pos = object(), 0.0, 0.0, [0.0] * m, 0
        for pdf in batches:
            vals = pdf[value].to_numpy(dtype="float64")
            keys = pdf[key].to_numpy()
            levels = [0.0] * len(vals)
            trends = [0.0] * len(vals)
            seasonal = [0.0] * len(vals)
            for i in range(len(vals)):
                k = keys[i]
                x = float(vals[i])
                if k != last_key:
                    last_key, lvl, trd, seas, pos = k, x, 0.0, [0.0] * m, 0
                else:
                    pos += 1
                    idx = pos % m
                    new_lvl = a * (x - seas[idx]) + oma * (lvl + trd)
                    trd = b * (new_lvl - lvl) + omb * trd
                    seas[idx] = g * (x - new_lvl) + omg * seas[idx]
                    lvl = new_lvl
                levels[i] = lvl
                trends[i] = trd
                seasonal[i] = seas[pos % m]
            yield pdf.assign(hw_level=levels, hw_trend=trends, hw_seasonal=seasonal)

    return part.mapInPandas(fold, schema=schema)


def resample_grid(
    df: DataFrame,
    step: str = "1 hour",
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Resample irregular ticks onto a fixed per-key grid with last-value
    gap-fill (hypertable rollup / time_bucket_gapfill semantics):

    1. per key: [min_bucket, max_bucket] span (one agg);
    2. explode the bucket sequence (no cross join, no driver loop);
    3. backward as-of join the original ticks onto grid points.
    """
    spans = df.groupBy(key).agg(
        F.date_trunc("hour", F.min(ts)).alias("_lo"),
        F.date_trunc("hour", F.max(ts)).alias("_hi"),
    )
    grid = spans.select(
        key,
        F.explode(F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step}"))).alias("grid_ts"),
    )
    left = grid.select(
        key, F.col("grid_ts").alias(ts), F.monotonically_increasing_id().alias(tiebreak)
    )
    right = df.select(key, ts, tiebreak, value)
    filled = asof_join(left, right, on=key, ts=ts, right_value_cols=(value,), tiebreak=tiebreak)
    return filled.select(key, F.col(ts).alias("grid_ts"), F.col(f"{value}_right").alias("filled_value"))


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "ts_rolling_stats",
    oracle="""
    SELECT user_id, event_id, value,
           round(avg(value) OVER w, 6) AS roll_avg,
           round(min(value) OVER w, 6) AS roll_min,
           round(max(value) OVER w, 6) AS roll_max,
           round(coalesce(stddev_samp(value) OVER w, 0.0), 6) AS roll_std,
           CAST(count(value) OVER w AS BIGINT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    tags=("timeseries", "rolling"),
)
def q_rolling_stats(spark, sf_dir):
    """Trailing-5 moving statistics per key."""
    ev = load_table(spark, sf_dir, "events")
    out = rolling_stats(ev, n=5)
    return out.select(
        "user_id",
        "event_id",
        "value",
        F.round("roll_avg", 6).alias("roll_avg"),
        F.round("roll_min", 6).alias("roll_min"),
        F.round("roll_max", 6).alias("roll_max"),
        F.round(F.coalesce("roll_std", F.lit(0.0)), 6).alias("roll_std"),
        F.col("roll_n").cast("long").alias("roll_n"),
    )


@register(
    "ts_ewma",
    oracle="""
    WITH pre AS (
        SELECT user_id, event_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
        FROM events
    )
    SELECT user_id, event_id, value,
           floor(list_reduce(prefix, (acc, x) -> 0.3 * x + 0.7 * acc) * 10000 + 0.5) / 10000 AS ewma
    FROM pre
    """,
    tags=("timeseries", "ewma"),
)
def q_ewma(spark, sf_dir):
    """Exact recursive EWMA (α=0.3) per key — sequential per-key fold,
    reproduced independently by DuckDB's list_reduce.

    Project to the four needed columns BEFORE the fold: Catalyst cannot
    prune columns through the applyInPandas boundary, so without this the
    wide ``props`` JSON string would round-trip through Arrow for every
    row (~5× the query's runtime at sf0.1)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = ewma(ev, alpha=0.3)
    # Explicit half-up canonicalization floor(x*1e4 + 0.5)/1e4 instead of
    # round(): the exact decimal EWMA of 2-decimal inputs frequently lands
    # ON a rounding boundary (e.g. 26.92725), and Spark (BigDecimal
    # half-up on the binary value) vs DuckDB (fp-multiply half-away)
    # resolve such boundaries differently. floor/mul/add are bit-identical
    # IEEE ops in both engines, so the canonical value is too.
    return out.select(
        "user_id",
        "event_id",
        "value",
        (F.floor(F.col("ewma") * 10000 + 0.5) / 10000).alias("ewma"),
    )


_HW_ZEROS = ", ".join(["CAST(0.0 AS DOUBLE)"] + ["0.0"] * 23)
_HW_IDX = "((o.rn - 1) % 24) + 1"
_HW_LVL = f"0.5 * (o.value - s.seas[{_HW_IDX}]) + 0.5 * (s.lvl + s.trd)"


@register(
    "ts_holt_winters",
    oracle=f"""
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), s AS (
        SELECT user_id, event_id, value, rn,
               value AS lvl, CAST(0.0 AS DOUBLE) AS trd,
               [{_HW_ZEROS}] AS seas
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.value, o.rn,
               {_HW_LVL} AS lvl,
               0.3 * (({_HW_LVL}) - s.lvl) + 0.7 * s.trd AS trd,
               list_transform(s.seas, (v, i) -> CASE WHEN i = {_HW_IDX}
                   THEN 0.2 * (o.value - ({_HW_LVL})) + 0.8 * v
                   ELSE v END) AS seas
        FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, event_id, value,
           floor(lvl * 10000 + 0.5) / 10000 AS hw_level,
           floor(trd * 10000 + 0.5) / 10000 AS hw_trend,
           floor(seas[((rn - 1) % 24) + 1] * 10000 + 0.5) / 10000 AS hw_seasonal
    FROM s
    """,
    tags=("timeseries", "forecast", "holt-winters"),
)
def q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (α=0.5, β=0.3, γ=0.2, period 24) per key —
    exact recursive triple-smoothing, the seasonal extension of the
    reference's single-series forecasting loop. The DuckDB oracle threads
    the 24-slot seasonal array through a recursive CTE (index-lambda
    ``list_transform``), reproducing every IEEE operation in the same
    order; ``floor(x·1e4 + 0.5)/1e4`` canonicalizes half-boundary cases as
    in ts_ewma. Columns are pruned to the four needed BEFORE the Arrow
    crossing."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = holt_winters(ev, alpha=0.5, beta=0.3, gamma=0.2, period=24)
    c = lambda col: (F.floor(F.col(col) * 10000 + 0.5) / 10000).alias(col)  # noqa: E731
    return out.select(
        "user_id", "event_id", "value", c("hw_level"), c("hw_trend"), c("hw_seasonal")
    )


@register(
    "ts_resample_gapfill",
    oracle="""
    WITH spans AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS grid_ts
        FROM spans
    ), ticks AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events
    )
    SELECT g.user_id, strftime(g.grid_ts, '%Y-%m-%d %H:%M:%S') AS grid_ts,
           t.value AS filled_value
    FROM grid g ASOF LEFT JOIN ticks t
      ON g.user_id = t.user_id AND g.grid_ts >= t.ts
    """,
    tags=("timeseries", "resample"),
)
def q_resample(spark, sf_dir):
    """Hourly grid resample with last-value gap-fill per key."""
    ev = load_table(spark, sf_dir, "events")
    out = resample_grid(ev, step="1 hour")
    return out.select(
        "user_id",
        F.date_format("grid_ts", "yyyy-MM-dd HH:mm:ss").alias("grid_ts"),
        "filled_value",
    )


@register(
    "ts_quantiles",
    oracle="""
    SELECT user_id,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY user_id
    """,
    tags=("timeseries", "quantile"),
)
def q_quantiles(spark, sf_dir):
    """Exact interpolated per-key quantiles (`percentile` ≡ DuckDB
    quantile_cont). The approx_percentile variant for 100 TB-scale single
    -pass sketching is `ts_quantiles_approx` (rows-only)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@register("ts_quantiles_approx", oracle=None, tags=("timeseries", "quantile", "sketch"))
def q_quantiles_approx(spark, sf_dir):
    """approx_percentile (KLL-style sketch): the mergeable single-pass
    quantile path for 100 TB — rows-only (sketch internals engine-specific);
    accuracy vs exact quantiles is pytest-asserted."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("p50_approx"),
        F.approx_count_distinct("value").alias("ndv_approx"),
    )


def sessionize(
    df: DataFrame,
    gap_seconds: int = 3600,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the
    previous event exceeds ``gap_seconds`` (the batch twin of
    ``session_window`` in streaming/windows.py). Classic lag + cumulative
    sum of session-start flags — one key shuffle."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    prev_us = F.lag(F.unix_micros(F.col(ts))).over(w)
    new_sess = F.when(
        prev_us.isNull() | (F.unix_micros(F.col(ts)) - prev_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    cum = Window.partitionBy(key).orderBy(ts, tiebreak).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(new_sess).over(cum))


def resample_interpolate(
    df: DataFrame,
    step: str = "1 hour",
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Fixed-grid resample with LINEAR interpolation between the bracketing
    ticks (vs. resample_grid's last-value fill): backward + forward as-of
    joins fetch the brackets, the interpolation is pure arithmetic.
    Endpoints degrade gracefully (only one bracket -> that value)."""
    spans = df.groupBy(key).agg(
        F.date_trunc("hour", F.min(ts)).alias("_lo"),
        F.date_trunc("hour", F.max(ts)).alias("_hi"),
    )
    grid = spans.select(
        key, F.explode(F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step}"))).alias("grid_ts")
    )
    # r14 (guide §2.4): both brackets from ONE union + ONE (key, ts) sort —
    # the old shape ran two cascaded asof_joins (two unions, two window
    # exchanges over grid+ticks).  The backward fill keeps asof_join's
    # exact ordering ((ts, side, tb): ticks sort before grid rows at equal
    # ts ⇒ inclusive), so v_prev/ts_prev are bit-identical.  The forward
    # fill shares that ordering with a (currentRow, unboundedFollowing)
    # frame, which EXCLUDES an equal-ts tick (it sorts before the grid
    # row) where the old forward join included it — but an equal-ts tick
    # is then also the backward bracket, so tg == tp and the interpolation
    # term (vn − vp)·(tg − tp)/(tn − tp) is exactly ±0.0 regardless of
    # which vn was picked: interp_value is unchanged row-for-row (parity
    # re-verified; only interp_value leaves this function).
    l_tagged = grid.select(
        F.lit(1).alias("_side"),
        F.col(key),
        F.col("grid_ts").alias("_ts"),
        F.monotonically_increasing_id().alias("_tb"),
        F.lit(None).cast(dict(df.dtypes)[value]).alias("_v"),
        F.lit(None).cast(dict(df.dtypes)[ts]).alias("_tick_ts"),
    )
    r_tagged = df.select(
        F.lit(0).alias("_side"),
        F.col(key),
        F.col(ts).alias("_ts"),
        F.col(tiebreak).cast("long").alias("_tb"),
        F.col(value).alias("_v"),
        F.col(ts).alias("_tick_ts"),
    )
    u = l_tagged.unionByName(r_tagged)
    order = [F.asc("_ts"), F.asc("_side"), F.asc("_tb")]
    w_back = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    both = u.select(
        "_side",
        key,
        "_ts",
        F.last("_v", ignorenulls=True).over(w_back).alias("_vp"),
        F.last("_tick_ts", ignorenulls=True).over(w_back).alias("_tp"),
        F.first("_v", ignorenulls=True).over(w_fwd).alias("_vn"),
        F.first("_tick_ts", ignorenulls=True).over(w_fwd).alias("_tn"),
    ).filter(F.col("_side") == 1)
    vp, vn = F.col("_vp"), F.col("_vn")
    tp, tn = F.unix_micros(F.col("_tp")), F.unix_micros(F.col("_tn"))
    tg = F.unix_micros(F.col("_ts"))
    interp = (
        F.when(vp.isNull(), vn)
        .when(vn.isNull(), vp)
        .when(tn == tp, vp)
        .otherwise(vp + (vn - vp) * (tg - tp) / (tn - tp))
    )
    return both.select(key, F.col("_ts").alias("grid_ts"), interp.alias("interp_value"))


@register(
    "ts_sessionize",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(epoch_us(date_trunc('microseconds', ts))) OVER w IS NULL
                      OR epoch_us(date_trunc('microseconds', ts))
                         - lag(epoch_us(date_trunc('microseconds', ts))) OVER w > 3600000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) t
    """,
    tags=("timeseries", "session"),
)
def q_sessionize(spark, sf_dir):
    """Gap-based batch sessionization (1 h gap) — the batch twin of the
    streaming session_window."""
    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, gap_seconds=3600)
    return out.select("event_id", "user_id", F.col("session_id").cast("long").alias("session_id"))


@register(
    "ts_resample_interpolate",
    oracle="""
    WITH spans AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events GROUP BY user_id
    ), grid AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS grid_ts FROM spans
    ), ticks AS (
        SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events
    ), b AS (
        SELECT g.user_id, g.grid_ts, t.value AS v_prev, t.ts AS ts_prev
        FROM grid g ASOF LEFT JOIN ticks t ON g.user_id = t.user_id AND g.grid_ts >= t.ts
    ), f AS (
        SELECT g.user_id, g.grid_ts, t.value AS v_next, t.ts AS ts_next
        FROM grid g ASOF LEFT JOIN ticks t ON g.user_id = t.user_id AND g.grid_ts <= t.ts
    )
    SELECT b.user_id, strftime(b.grid_ts, '%Y-%m-%d %H:%M:%S') AS grid_ts,
           round(CASE
               WHEN v_prev IS NULL THEN v_next
               WHEN v_next IS NULL THEN v_prev
               WHEN ts_next = ts_prev THEN v_prev
               ELSE v_prev + (v_next - v_prev)
                    * (epoch_us(b.grid_ts) - epoch_us(ts_prev))
                    / (epoch_us(ts_next) - epoch_us(ts_prev))
           END, 6) AS interp_value
    FROM b JOIN f ON b.user_id = f.user_id AND b.grid_ts = f.grid_ts
    """,
    tags=("timeseries", "resample", "interpolate"),
)
def q_resample_interpolate(spark, sf_dir):
    """Hourly grid resample with linear interpolation between brackets."""
    ev = load_table(spark, sf_dir, "events")
    out = resample_interpolate(ev, step="1 hour")
    return out.select(
        "user_id",
        F.date_format("grid_ts", "yyyy-MM-dd HH:mm:ss").alias("grid_ts"),
        F.round("interp_value", 6).alias("interp_value"),
    )


def hypertable_rollup(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    levels: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Multi-resolution time-bucket rollup (TimescaleDB-style continuous
    aggregate cascade): the finest level aggregates the raw rows once, every
    coarser level re-aggregates the previous level's *partials* (sum of sums,
    sum of counts, min of mins, max of maxes) instead of rescanning raw data.

    At 100 TB this is the difference between one raw scan and |levels| raw
    scans: each cascade step processes only the previous level's output
    (~1/60th the rows per step), and avg stays exact because it is derived
    from composable (sum, count) partials, never averaged-of-averages.

    Each level is materialized (localCheckpoint here; a persisted aggregate
    table on a cluster — that's what makes it a *continuous* aggregate) so
    the union's branches share one computation per level instead of
    re-deriving every level from the raw scan.
    """
    finest, *coarser = levels
    cur = (
        df.groupBy(key, F.date_trunc(finest, ts).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(value).alias("s"),
            F.min(value).alias("mn"),
            F.max(value).alias("mx"),
        )
        .withColumn("resolution", F.lit(finest))
        .localCheckpoint(eager=False)
    )
    out = [cur]
    for lvl in coarser:
        cur = (
            cur.groupBy(key, F.date_trunc(lvl, "bucket").alias("bucket"))
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").alias("s"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
            .withColumn("resolution", F.lit(lvl))
            .localCheckpoint(eager=False)
        )
        out.append(cur)
    unioned = out[0]
    for part in out[1:]:
        unioned = unioned.unionByName(part)
    return unioned


@register(
    "ts_hypertable_rollup",
    oracle="""
    SELECT 'minute' AS resolution, user_id,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           round(avg(value), 6) AS avg_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY user_id, date_trunc('minute', ts)
    UNION ALL
    SELECT 'hour', user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'),
           CAST(count(*) AS BIGINT), round(sum(value), 2), round(avg(value), 6),
           round(min(value), 6), round(max(value), 6)
    FROM events GROUP BY user_id, date_trunc('hour', ts)
    UNION ALL
    SELECT 'day', user_id, strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S'),
           CAST(count(*) AS BIGINT), round(sum(value), 2), round(avg(value), 6),
           round(min(value), 6), round(max(value), 6)
    FROM events GROUP BY user_id, date_trunc('day', ts)
    """,
    tags=("timeseries", "rollup", "hypertable"),
)
def q_hypertable_rollup(spark, sf_dir):
    """Minute→hour→day cascading rollup per user: one raw scan, coarser
    levels re-aggregate composable partials (the oracle recomputes each level
    from raw — identical results, different cost shape)."""
    ev = load_table(spark, sf_dir, "events")
    roll = hypertable_rollup(ev)
    return roll.select(
        "resolution",
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        F.col("n").cast("long").alias("n_events"),
        F.round("s", 2).alias("total_value"),
        F.round(F.col("s") / F.col("n"), 6).alias("avg_value"),
        F.round("mn", 6).alias("min_value"),
        F.round("mx", 6).alias("max_value"),
    )


@register(
    "ts_rolling_time_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           round(avg(value) OVER w, 6) AS avg_1h,
           round(min(value) OVER w, 6) AS min_1h,
           round(max(value) OVER w, 6) AS max_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("timeseries", "rolling", "range-frame"),
)
def q_rolling_time_window(spark, sf_dir):
    """Trailing 1-hour window stats per key — a RANGE frame over event time
    (all rows within the interval, however many), vs the ROWS frame of
    ts_rolling_stats (fixed row count, however spaced). Spark's range frame
    runs on µs longs; same single per-key sort as the rows frame."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        F.round(F.min("value").over(w), 6).alias("min_1h"),
        F.round(F.max("value").over(w), 6).alias("max_1h"),
    )


@register(
    "ts_holt_linear",
    oracle="""
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), s AS (
        SELECT user_id, event_id, value, rn,
               value AS level, CAST(0.0 AS DOUBLE) AS trend
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.value, o.rn,
               0.5 * o.value + 0.5 * (s.level + s.trend) AS level,
               0.3 * ((0.5 * o.value + 0.5 * (s.level + s.trend)) - s.level)
                   + 0.7 * s.trend AS trend
        FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, event_id, value,
           floor(level * 10000 + 0.5) / 10000 AS holt_level,
           floor(trend * 10000 + 0.5) / 10000 AS holt_trend,
           floor((level + trend) * 10000 + 0.5) / 10000 AS holt_forecast
    FROM s
    """,
    tags=("timeseries", "forecast", "holt"),
)
def q_holt_linear(spark, sf_dir):
    """Holt double exponential smoothing (α=0.5, β=0.3) per key, with the
    one-step-ahead forecast level+trend. The oracle replays the identical
    IEEE recurrence via a recursive CTE (one iteration per row rank), so
    the floor-canonicalized values are bit-exact across engines. Columns
    pruned before the Arrow crossing, as in ts_ewma."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = holt_linear(ev, alpha=0.5, beta=0.3)
    return out.select(
        "user_id",
        "event_id",
        "value",
        (F.floor(F.col("holt_level") * 10000 + 0.5) / 10000).alias("holt_level"),
        (F.floor(F.col("holt_trend") * 10000 + 0.5) / 10000).alias("holt_trend"),
        (F.floor((F.col("holt_level") + F.col("holt_trend")) * 10000 + 0.5) / 10000).alias(
            "holt_forecast"
        ),
    )


@register(
    "ts_rolling_corr",
    oracle="""
    WITH lagged AS (
        SELECT user_id, event_id, ts, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        FROM events
    )
    SELECT user_id, event_id,
           floor(corr(value, prev_value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) * 10000 + 0.5) / 10000
               AS autocorr_20
    FROM lagged
    """,
    tags=("timeseries", "rolling", "corr"),
)
def q_rolling_corr(spark, sf_dir):
    """Trailing-20-row lag-1 autocorrelation per key (regime/trend
    detector): lag + windowed corr share one (key, ts) sort, so the whole
    query is a single Exchange. NaN (zero-variance frame) canonicalized to
    NULL to match the oracle's SQL semantics. Values use the repo's floor
    half-up canonicalization (floor(x*10000+0.5)/10000, as ts_ewma/holt do)
    rather than round(): round(-1e-9, 4) emits -0.0 on both engines but the
    engines disagree on WHICH near-zero corr values are negative at the
    last ulp, and value hashes distinguish -0.0 from +0.0. The floor form
    never produces -0.0, so the 2-row signed-zero mismatch seen in
    CORRECTNESS_r03 cannot recur."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-19, Window.currentRow)
    c = F.corr("value", "prev_value").over(frame)
    canon = F.floor(F.when(~F.isnan(c), c) * 10000 + 0.5) / 10000
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .select(
            "user_id",
            "event_id",
            canon.alias("autocorr_20"),
        )
    )


# ---------------------------------------------------------------------------
# 1-D Kalman filter (local-level model)
# ---------------------------------------------------------------------------


def kalman_1d(
    df: DataFrame,
    q: float = 0.01,
    r: float = 0.1,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-key 1-D Kalman filter (local-level model) — the probabilistic
    upgrade of the reference's smoothing loop (``lvmh_forecaster2.py``'s
    forecast-vs-actual tracking, A1-A3): the filtered estimate is the
    optimal linear denoiser of the tick stream under process variance ``q``
    and observation variance ``r``:

        P' = P + q;  K = P'/(P'+r);  x += K·(z - x);  P = (1-K)·P'

    seeded x_1 = z_1, P_1 = 1. Same scale shape as :func:`ewma`: one hash
    shuffle on ``key`` + in-partition sort, one ``mapInPandas`` pass with
    the (x, P) accumulator carried across Arrow batch boundaries in the
    iterator closure — O(1) state, O(n) work, keys never split across
    partitions. The per-step float ops replay IEEE-identically in the
    oracle's recursive CTE."""
    schema = StructType(
        list(df.schema.fields)
        + [StructField("kalman_x", DoubleType()), StructField("kalman_p", DoubleType())]
    )
    qv, rv = float(q), float(r)
    part = df.repartition(key).sortWithinPartitions(key, ts, tiebreak)

    def fold(batches):
        last_key, x, p = object(), 0.0, 0.0
        for pdf in batches:
            vals = pdf[value].to_numpy(dtype="float64")
            keys = pdf[key].to_numpy()
            xs = [0.0] * len(vals)
            ps = [0.0] * len(vals)
            for i in range(len(vals)):
                kk = keys[i]
                z = float(vals[i])
                if kk != last_key:
                    last_key, x, p = kk, z, 1.0
                else:
                    pp = p + qv
                    k = pp / (pp + rv)
                    x = x + k * (z - x)
                    p = (1.0 - k) * pp
                xs[i] = x
                ps[i] = p
            yield pdf.assign(kalman_x=xs, kalman_p=ps)

    return part.mapInPandas(fold, schema=schema)


__all__.append("kalman_1d")


@register(
    "ts_kalman_filter_1d",
    oracle="""
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), s AS (
        SELECT user_id, event_id, value, rn,
               value AS x, CAST(1.0 AS DOUBLE) AS p
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.value, o.rn,
               s.x + ((s.p + 0.01) / ((s.p + 0.01) + 0.1)) * (o.value - s.x) AS x,
               (1.0 - ((s.p + 0.01) / ((s.p + 0.01) + 0.1))) * (s.p + 0.01) AS p
        FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, event_id, value,
           floor(x * 10000 + 0.5) / 10000 AS kalman_x,
           floor(p * 10000 + 0.5) / 10000 AS kalman_p
    FROM s
    """,
    tags=("timeseries", "kalman", "filter"),
)
def q_kalman_1d(spark, sf_dir):
    """Per-key local-level Kalman filter (q=0.01, r=0.1): filtered estimate
    and posterior variance per tick. The oracle replays the identical IEEE
    recurrence via a recursive CTE; floor-canonicalized values are
    bit-exact across engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = kalman_1d(ev, q=0.01, r=0.1)
    return out.select(
        "user_id",
        "event_id",
        "value",
        (F.floor(F.col("kalman_x") * 10000 + 0.5) / 10000).alias("kalman_x"),
        (F.floor(F.col("kalman_p") * 10000 + 0.5) / 10000).alias("kalman_p"),
    )


# ---------------------------------------------------------------------------
# Irregular-gap EWMA (time-decay smoothing)
# ---------------------------------------------------------------------------


def ewma_irregular(
    df: DataFrame,
    tau_s: float = 3600.0,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-key EWMA over IRREGULARLY spaced ticks: the smoothing weight of
    each step scales with the actual elapsed gap, y += a*(z - y) with
    a = dt/(dt + tau) — a pure RATIONAL decay law, chosen over the
    textbook 1-exp(-dt/tau) because libm exp is not bit-portable across
    engines while +,-,*,/ are IEEE-exact; both laws are monotone in dt
    with a→0 for dense ticks and a→1 for long silences. Seeded y_1 = z_1.

    Same scale shape as :func:`kalman_1d` directly above: one hash shuffle
    on ``key`` + in-partition sort, one ``mapInPandas`` pass with O(1)
    carried state; gaps are exact integer microseconds divided once, so
    the oracle's recursive CTE replays the recurrence bit-identically."""
    schema = StructType(
        list(df.schema.fields) + [StructField("ewma_t", DoubleType())]
    )
    tau = float(tau_s)
    part = df.repartition(key).sortWithinPartitions(key, ts, tiebreak)

    def fold(batches):
        last_key, y, last_us = object(), 0.0, 0
        for pdf in batches:
            vals = pdf[value].to_numpy(dtype="float64")
            keys = pdf[key].to_numpy()
            us = pdf[ts].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
            ys = [0.0] * len(vals)
            for i in range(len(vals)):
                kk = keys[i]
                z = float(vals[i])
                if kk != last_key:
                    last_key, y = kk, z
                else:
                    dt = float(us[i] - last_us) / 1000000.0
                    a = dt / (dt + tau)
                    y = y + a * (z - y)
                last_us = int(us[i])
                ys[i] = y
            yield pdf.assign(ewma_t=ys)

    return part.mapInPandas(fold, schema=schema)


__all__.append("ewma_irregular")


@register(
    "ts_ewma_irregular",
    oracle="""
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), s AS (
        SELECT user_id, event_id, ts, value, rn, value AS y
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
               s.y + (((epoch_us(o.ts) - epoch_us(s.ts)) / 1000000.0)
                      / (((epoch_us(o.ts) - epoch_us(s.ts)) / 1000000.0) + 3600.0))
                     * (o.value - s.y) AS y
        FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, event_id, value,
           floor(y * 1000000 + 0.5) / 1000000 AS ewma_t
    FROM s
    """,
    tags=("timeseries", "ewma", "irregular"),
)
def q_ewma_irregular(spark, sf_dir):
    """Time-decay EWMA per key over irregular tick gaps — the smoothing
    the fixed-alpha `ts_ewma` gets wrong when sampling is uneven (a tick
    after an hour of silence should nearly reset; a burst should barely
    move the average). Gap-proportional rational decay, bit-exact against
    the recursive-CTE oracle."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = ewma_irregular(ev, tau_s=3600.0)
    return out.select(
        "user_id",
        "event_id",
        "value",
        (F.floor(F.col("ewma_t") * 1000000 + 0.5) / 1000000).alias("ewma_t"),
    )


# ---------------------------------------------------------------------------
# Hampel filter — rolling-median robust despiking
# ---------------------------------------------------------------------------


@register(
    "ts_hampel_filter",
    oracle="""
    WITH w AS (
        SELECT user_id, event_id, value,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS arr
        FROM events
    ), m AS (
        SELECT user_id, event_id, value, arr,
               list_sort(arr)[CAST(ceil(len(arr) / 2.0) AS INT)] AS med
        FROM w
    ), d AS (
        SELECT user_id, event_id, value, med,
               list_sort(list_transform(arr, x -> abs(x - med)))
                   [CAST(ceil(len(arr) / 2.0) AS INT)] AS mad
        FROM m
    )
    SELECT user_id, event_id, value,
           round(med, 6) AS window_median,
           round(mad, 6) AS window_mad,
           (abs(value - med) > 3.0 * 1.4826 * mad) AS is_spike,
           round(CASE WHEN abs(value - med) > 3.0 * 1.4826 * mad
                      THEN med ELSE value END, 6) AS despiked
    FROM d
    """,
    tags=("timeseries", "hampel", "robust", "cleaning"),
)
def q_hampel_filter(spark, sf_dir):
    """Hampel despiking: each tick is compared to the NEAREST-RANK median
    of its centered 5-tick window; ticks more than 3 scaled MADs away are
    flagged and replaced by the window median — the standard robust spike
    cleaner (a z-score filter's threshold is itself corrupted by the spike;
    median/MAD are not).

    Scale shape: one key-partitioned window materializes the 5-element
    neighborhood array; median and MAD are pure HOF sorts over 5 elements
    (no second window, no shuffle). Nearest-rank (element at ceil(n/2)) is
    an exact array element, so both engines agree bit-wise and the 6-dp
    round is cosmetic. Edges keep their truncated (3/4-element) windows,
    same on both sides."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    arr = F.collect_list("value").over(w)
    base = ev.select("user_id", "event_id", "value", arr.alias("arr"))
    nr = F.ceil(F.size("arr") / F.lit(2.0)).cast("int")
    med = F.element_at(F.sort_array(F.col("arr")), nr)
    m = base.select("user_id", "event_id", "value", "arr", med.alias("med"))
    mad = F.element_at(
        F.sort_array(F.transform(F.col("arr"), lambda x: F.abs(x - F.col("med")))),
        F.ceil(F.size("arr") / F.lit(2.0)).cast("int"),
    )
    d = m.select("user_id", "event_id", "value", "med", mad.alias("mad"))
    spike = F.abs(F.col("value") - F.col("med")) > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return d.select(
        "user_id",
        "event_id",
        "value",
        F.round("med", 6).alias("window_median"),
        F.round("mad", 6).alias("window_mad"),
        spike.alias("is_spike"),
        F.round(F.when(spike, F.col("med")).otherwise(F.col("value")), 6).alias(
            "despiked"
        ),
    )


# ---------------------------------------------------------------------------
# Croston's method — intermittent-demand forecasting (r7)
# ---------------------------------------------------------------------------


def croston_states(
    df: DataFrame,
    alpha: float = 0.1,
    key: str = "user_id",
    day: str = "day",
    demand: str = "d",
) -> DataFrame:
    """Per-key Croston recursion over ordered NONZERO demand periods:
    z ← z + α(d − z) (demand level), p ← p + α(q − p) (inter-demand
    interval), seeded z₁ = d₁, p₁ = 1.  Input must carry one row per
    nonzero-demand day with ``q`` = days since the previous one (first
    row q = 1).  Same scale shape as :func:`ewma_irregular`: one hash
    shuffle on ``key`` + in-partition sort, one ``mapInPandas`` pass with
    O(1) carried state; all updates are +,-,*,/ on exact inputs so the
    recursive-CTE oracle replays them bit-identically."""
    schema = StructType(
        list(df.schema.fields)
        + [StructField("z", DoubleType()), StructField("p", DoubleType())]
    )
    a = float(alpha)
    part = df.repartition(key).sortWithinPartitions(key, day)

    def fold(batches):
        last_key, z, p = object(), 0.0, 0.0
        for pdf in batches:
            keys = pdf[key].to_numpy()
            ds = pdf[demand].to_numpy(dtype="float64")
            qs = pdf["q"].to_numpy(dtype="float64")
            zs = [0.0] * len(ds)
            ps = [0.0] * len(ds)
            for i in range(len(ds)):
                kk = keys[i]
                if kk != last_key:
                    last_key, z, p = kk, float(ds[i]), 1.0
                else:
                    z = z + a * (float(ds[i]) - z)
                    p = p + a * (float(qs[i]) - p)
                zs[i] = z
                ps[i] = p
            yield pdf.assign(z=zs, p=ps)

    return part.mapInPandas(fold, schema=schema)


__all__.append("croston_states")


@register(
    "ts_croston_forecast",
    oracle="""
    WITH RECURSIVE nz AS (
        SELECT user_id,
               CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS d
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), o AS (
        SELECT user_id, day, d,
               CAST(coalesce(day - lag(day) OVER (PARTITION BY user_id ORDER BY day),
                             1) AS DOUBLE) AS q,
               row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM nz
    ), s AS (
        SELECT user_id, day, d, q, rn, d AS z, CAST(1.0 AS DOUBLE) AS p
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.day, o.d, o.q, o.rn,
               s.z + 0.1 * (o.d - s.z) AS z,
               s.p + 0.1 * (o.q - s.p) AS p
        FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    ), fin AS (
        SELECT user_id, rn, z, p,
               row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS rr
        FROM s
    )
    SELECT user_id, CAST(rn AS BIGINT) AS n_periods,
           floor(z * 1000000 + 0.5) / 1000000 AS level,
           floor(p * 1000000 + 0.5) / 1000000 AS interval,
           floor(z / p * 1000000 + 0.5) / 1000000 AS croston_forecast
    FROM fin WHERE rr = 1
    """,
    tags=("timeseries", "forecast", "intermittent", "croston"),
)
def q_ts_croston_forecast(spark, sf_dir):
    """Croston's method per user over intermittent daily purchase demand —
    the forecasting standard when a series is MOSTLY ZEROS (separate
    exponential smoothing of the nonzero demand level z and of the
    inter-demand interval p; the demand-rate forecast is z/p).  Naive
    smoothing on such series decays toward zero between purchases and
    spikes after each one; Croston's interval state is the fix.

    Shape: the fact table reduces to the per-(user, day) nonzero-demand
    grid (integer cents), intervals come from one key-partitioned lag,
    and the recursion is the same O(1)-state Arrow fold as
    `ewma_irregular`/`kalman_1d` — one shuffle on user_id, all updates
    +,-,*,/ on exact inputs, verified bit-exactly against the
    recursive-CTE oracle replaying every step.  Output: final (level,
    interval, forecast) per user."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    nz = ev.groupBy(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias(
            "d"
        )
    )
    w = Window.partitionBy("user_id").orderBy("day")
    o = nz.select(
        "user_id",
        "day",
        "d",
        F.coalesce(F.col("day") - F.lag("day").over(w), F.lit(1))
        .cast("double")
        .alias("q"),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    states = croston_states(o.select("user_id", "day", "d", "q", "rn"))
    w_last = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    last = states.withColumn("rr", F.row_number().over(w_last)).filter(
        F.col("rr") == 1
    )
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return last.select(
        "user_id",
        F.col("rn").alias("n_periods"),
        canon(F.col("z")).alias("level"),
        canon(F.col("p")).alias("interval"),
        canon(F.col("z") / F.col("p")).alias("croston_forecast"),
    )


# ---------------------------------------------------------------------------
# Theta method — the M3-winning two-line forecaster (r7)
# ---------------------------------------------------------------------------


@register(
    "ts_theta_forecast",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ), idx AS (
        SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM daily
    ), fit AS (
        SELECT regr_intercept(y, t) AS a, regr_slope(y, t) AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM idx
    ), th AS (
        SELECT i.t, 2.0 * i.y - (f.a + f.b * i.t) AS z, f.a, f.b, f.n
        FROM idx i CROSS JOIN fit f
    ), s AS (
        SELECT t, z, a, b, n, z AS lvl FROM th WHERE t = 1
        UNION ALL
        SELECT th.t, th.z, th.a, th.b, th.n,
               s.lvl + 0.2 * (th.z - s.lvl) AS lvl
        FROM s JOIN th ON th.t = s.t + 1
    ), last AS (
        SELECT n, a, b, lvl FROM s WHERE t = n
    )
    SELECT n,
           floor(a * 1000000 + 0.5) / 1000000 AS trend_intercept,
           floor(b * 1000000 + 0.5) / 1000000 AS trend_slope,
           floor(lvl * 1000000 + 0.5) / 1000000 AS theta2_level,
           floor((0.5 * (a + b * (n + 1)) + 0.5 * lvl) * 1000000 + 0.5) / 1000000
               AS forecast_h1,
           floor((0.5 * (a + b * (n + 2)) + 0.5 * lvl) * 1000000 + 0.5) / 1000000
               AS forecast_h2,
           floor((0.5 * (a + b * (n + 3)) + 0.5 * lvl) * 1000000 + 0.5) / 1000000
               AS forecast_h3
    FROM last
    """,
    tags=("timeseries", "forecast", "theta"),
)
def q_ts_theta_forecast(spark, sf_dir):
    """The Theta method (Assimakopoulos & Nikolopoulos 2000, the M3
    competition winner) on daily purchase revenue: decompose into the
    θ=0 line (the OLS trend, capturing long-run direction) and the θ=2
    line z_t = 2y_t − trend_t (double-curvature residual series), smooth
    the θ=2 line with SES (α=0.2), and forecast each horizon as the
    equal-weight combination ½·trend(T+h) + ½·level — the simple
    combination that beat every sophisticated method in M3.

    Shape: the fact table reduces once to the calendar-bounded day grid;
    the OLS line is regr_intercept/regr_slope (one aggregate); the SES
    recursion is the shared O(1)-state Arrow fold over the SINGLE bounded
    series (constant key — the day grid, not the fact table, crosses the
    fold).  Bit-exact vs the recursive-CTE oracle replaying every SES
    step; trend/theta arithmetic is the identical IEEE tree."""
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
    w = Window.orderBy("day")
    idx = daily.select(
        "day", "y", F.row_number().over(w).cast("long").alias("t")
    )
    fit = idx.agg(
        F.expr("regr_intercept(y, t)").alias("a"),
        F.expr("regr_slope(y, t)").alias("b"),
        F.count("*").cast("long").alias("n"),
    )
    th = idx.crossJoin(F.broadcast(fit)).select(
        F.lit(0).alias("k"),
        "t",
        (2.0 * F.col("y") - (F.col("a") + F.col("b") * F.col("t"))).alias("z"),
        "a",
        "b",
        "n",
    )
    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("t", LongType()),
            StructField("z", DoubleType()),
            StructField("a", DoubleType()),
            StructField("b", DoubleType()),
            StructField("n", LongType()),
            StructField("lvl", DoubleType()),
        ]
    )

    def fold(batches):
        started, lvl = False, 0.0
        for pdf in batches:
            zs = pdf["z"].to_numpy(dtype="float64")
            out = [0.0] * len(zs)
            for i in range(len(zs)):
                if not started:
                    started, lvl = True, float(zs[i])
                else:
                    lvl = lvl + 0.2 * (float(zs[i]) - lvl)
                out[i] = lvl
            yield pdf.assign(lvl=out)

    states = th.repartition("k").sortWithinPartitions("k", "t").mapInPandas(
        fold, schema=schema
    )
    last = states.filter(F.col("t") == F.col("n"))
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    fc = lambda h: canon(  # noqa: E731
        0.5 * (F.col("a") + F.col("b") * (F.col("n") + h)) + 0.5 * F.col("lvl")
    )
    return last.select(
        "n",
        canon(F.col("a")).alias("trend_intercept"),
        canon(F.col("b")).alias("trend_slope"),
        canon(F.col("lvl")).alias("theta2_level"),
        fc(1).alias("forecast_h1"),
        fc(2).alias("forecast_h2"),
        fc(3).alias("forecast_h3"),
    )


# ---------------------------------------------------------------------------
# GARCH(1,1) volatility filter — conditional variance of tick innovations
# ---------------------------------------------------------------------------


def garch_1_1(
    df: DataFrame,
    omega: float = 0.1,
    alpha: float = 0.2,
    beta: float = 0.7,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-key GARCH(1,1) conditional-variance filter over tick
    innovations r_t = z_t − z_{t−1} — the volatility model the
    reference's forecast-error tracking (``lvmh_forecaster2.py`` A1-A3)
    upgrades to when the QUESTION is "how uncertain is the next tick",
    not "what is it":

        h_t = ω + α·r_{t−1}² + β·h_{t−1},   seeded h_1 = 1, r_1 = 0.

    Same scale shape as :func:`kalman_1d` (directly above): one hash
    shuffle on ``key`` + in-partition sort, one ``mapInPandas`` pass with
    the (prev value, prev r, h) accumulator carried across Arrow batch
    boundaries — O(1) state, O(n) work, keys never split across
    partitions.  Every step is +,−,×,/ so the recurrence replays
    IEEE-identically in the oracle's recursive CTE (the same argument as
    the Kalman and irregular-EWMA filters)."""
    schema = StructType(
        list(df.schema.fields)
        + [StructField("innovation", DoubleType()), StructField("garch_h", DoubleType())]
    )
    om, al, be = float(omega), float(alpha), float(beta)
    part = df.repartition(key).sortWithinPartitions(key, ts, tiebreak)

    def fold(batches):
        last_key, prev_z, prev_r, h = object(), 0.0, 0.0, 0.0
        for pdf in batches:
            vals = pdf[value].to_numpy(dtype="float64")
            keys = pdf[key].to_numpy()
            rs = [0.0] * len(vals)
            hs = [0.0] * len(vals)
            for i in range(len(vals)):
                kk = keys[i]
                z = float(vals[i])
                if kk != last_key:
                    last_key, prev_r, h = kk, 0.0, 1.0
                    r = 0.0
                else:
                    r = z - prev_z
                    h = om + al * prev_r * prev_r + be * h
                prev_z, prev_r = z, r
                rs[i] = r
                hs[i] = h
            yield pdf.assign(innovation=rs, garch_h=hs)

    return part.mapInPandas(fold, schema=schema)


__all__.append("garch_1_1")


@register(
    "ts_garch_volatility",
    oracle="""
    WITH RECURSIVE o AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), s AS (
        SELECT user_id, event_id, value, rn,
               CAST(0.0 AS DOUBLE) AS r, CAST(1.0 AS DOUBLE) AS h
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.value, o.rn,
               o.value - s.value AS r,
               0.1 + 0.2 * s.r * s.r + 0.7 * s.h AS h
        FROM s JOIN o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    )
    SELECT user_id, event_id, value,
           floor(r * 1000000 + 0.5) / 1000000 AS innovation,
           floor(h * 1000000 + 0.5) / 1000000 AS garch_h,
           floor(r / sqrt(h) * 1000000 + 0.5) / 1000000 AS std_resid
    FROM s
    """,
    tags=("timeseries", "garch", "volatility", "filter"),
)
def q_garch_volatility(spark, sf_dir):
    """Per-key GARCH(1,1) (ω=0.1, α=0.2, β=0.7): conditional variance of
    tick innovations plus the standardized residual r/√h — the
    volatility-normalized anomaly signal (a 3σ move in calm regimes is
    news; the same move mid-burst is noise, which fixed-threshold
    `ts_anomaly_zscore` cannot distinguish).  The oracle replays the
    identical IEEE recurrence via a recursive CTE; floor-canonicalized
    values are bit-exact across engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = garch_1_1(ev, omega=0.1, alpha=0.2, beta=0.7)
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return out.select(
        "user_id",
        "event_id",
        "value",
        canon(F.col("innovation")).alias("innovation"),
        canon(F.col("garch_h")).alias("garch_h"),
        canon(F.col("innovation") / F.sqrt(F.col("garch_h"))).alias("std_resid"),
    )
