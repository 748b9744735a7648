"""Reshaping + sampling operators: pivot/unpivot, deterministic sampling,
array/map scalar functions (SURVEY.md §2.8 "standard relational set").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.registry import register

__all__ = ["pivot_status", "unpivot_totals", "hash_mod_sample", "stratified_sample", "weighted_systematic_sample", "stratified_exact_sample"]


def pivot_status(orders: DataFrame) -> DataFrame:
    """Wide pivot: one column per order status (Catalyst rewrites to
    conditional aggregation — same plan as hand-written CASE sums, no extra
    shuffle)."""
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


def unpivot_totals(wide: DataFrame) -> DataFrame:
    """Melt the pivoted frame back to long form (ids × (status, total))."""
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["F", "O", "P"],
        variableColumnName="status",
        valueColumnName="total",
    )


def hash_mod_sample(df: DataFrame, id_col: str, pct: int = 10) -> DataFrame:
    """Deterministic, reproducible sampling: keep rows whose key folds into
    the first ``pct`` of 100 residue classes. Unlike ``TABLESAMPLE``/rand,
    this survives re-runs, engine changes and repartitioning — the property
    a 100 TB pipeline needs for stable held-out splits."""
    return df.filter(F.pmod(F.col(id_col), F.lit(100)) < pct)


def stratified_sample(df: DataFrame, strata_col: str, fractions: dict, seed: int = 42) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): engine-seeded, so
    reproducible within Spark but not cross-engine (rows-only check)."""
    return df.sampleBy(strata_col, fractions, seed)


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "reshape_pivot",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("reshape", "pivot"),
)
def q_pivot(spark, sf_dir):
    """groupBy().pivot() wide aggregation."""
    return pivot_status(load_table(spark, sf_dir, "orders"))


@register(
    "reshape_unpivot",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f_total,
               round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o_total,
               round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p_total
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, total FROM (
        SELECT o_orderpriority, 'F' AS status, f_total AS total FROM wide
        UNION ALL SELECT o_orderpriority, 'O', o_total FROM wide
        UNION ALL SELECT o_orderpriority, 'P', p_total FROM wide
    ) t WHERE total IS NOT NULL
    """,
    tags=("reshape", "unpivot"),
)
def q_unpivot(spark, sf_dir):
    """pivot → unpivot round trip (melt); NULL cells dropped like SQL
    UNPIVOT's default."""
    wide = pivot_status(load_table(spark, sf_dir, "orders"))
    return unpivot_totals(wide).filter(F.col("total").isNotNull())


@register(
    "sample_hash_mod",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_id % 100 < 10
    """,
    tags=("sample",),
)
def q_hash_mod_sample(spark, sf_dir):
    """Deterministic 10% key-residue sample."""
    ev = load_table(spark, sf_dir, "events")
    return hash_mod_sample(ev, "event_id", 10).select("event_id", "user_id", "value")


@register(
    "sample_per_key_reservoir",
    oracle="""
    WITH ranked AS (
        SELECT event_id, user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY md5(event_id::VARCHAR), event_id) AS rn
        FROM events
    )
    SELECT event_id, user_id, value FROM ranked WHERE rn <= 5
    """,
    tags=("sample", "reservoir"),
)
def q_per_key_reservoir(spark, sf_dir):
    """Deterministic per-key reservoir: at most k=5 rows per key, chosen
    uniformly-ish by ranking on the md5 of the row id (the reproducible
    stand-in for a random reservoir — same sample on every engine and every
    run). One hash shuffle on the key; per-key state is the k-row window
    buffer, so a hot key cannot blow memory the way an unbounded
    collect_list sample would. The bounded-per-key shape is what caps
    training-data contributions per source/user at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.md5(F.col("event_id").cast("string")), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("event_id", "user_id", "value")
    )


STRATA_FRACTIONS = {"en": 0.5, "fr": 0.2, "de": 0.2, "es": 0.2, "zh": 0.2}


@register("sample_stratified", oracle=None, tags=("sample", "stratified"))
def q_stratified_sample(spark, sf_dir):
    """Seeded per-stratum sampling (rows-only; fraction accuracy
    pytest-asserted)."""
    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, "lang", STRATA_FRACTIONS)
    return out.select("doc_id", "lang")


@register(
    "array_fns_embeddings",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           CAST(len(v) AS INTEGER) AS dim,
           round(list_max(v), 6) AS vmax,
           round(list_min(v), 6) AS vmin,
           round(list_sum(v), 6) AS vsum,
           round(v[1], 6) AS first_component,
           round(list_sort(v)[len(v)], 6) AS sorted_last,
           round(list_sum(list_filter(v, x -> x > 0)), 6) AS pos_sum
    FROM e
    """,
    tags=("scalar", "array"),
)
def q_array_fns(spark, sf_dir):
    """Array scalar-function surface over the embedding column (size/min/
    max/sum/index/sort/filter) — the multimodal-column toolkit."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_max(v), 6).alias("vmax"),
        F.round(F.array_min(v), 6).alias("vmin"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6).alias("vsum"),
        F.round(F.element_at(v, 1), 6).alias("first_component"),
        F.round(F.element_at(F.array_sort(v), F.size("embedding")), 6).alias("sorted_last"),
        F.round(
            F.aggregate(F.filter(v, lambda x: x > 0), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("pos_sum"),
    )


@register(
    "sample_group_split",
    oracle="""
    WITH b AS (
        SELECT user_id, event_id,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::BIGINT) % 10 AS bucket
        FROM events
    )
    SELECT CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM b GROUP BY 1
    """,
    tags=("sample", "split", "group-aware"),
)
def q_sample_group_split(spark, sf_dir):
    """Leakage-aware train/val/test split: the split key is a hash of the
    GROUP (user), not the row, so every event of a user lands in the same
    split — the correct way to split entity-correlated training data.
    md5 is identical across engines, making the assignment itself
    oracle-verified; deterministic, seedless, and stable as data grows (a
    user's split never changes when their events do)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10).cast("long")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split")
    )
    return ev.select(split, "user_id", "event_id").groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def weighted_systematic_sample(
    df: DataFrame,
    k: int,
    weight,
    key: str = "user_id",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Deterministic weight-proportional sampling of ≤ k rows per key
    (systematic / low-variance resampling, the particle-filter scheme).

    Lay the rows of a key end-to-end on a [0, total_weight) line and pick
    the rows containing the k evenly-spaced points — selection probability
    is proportional to ``weight`` with zero randomness and zero extra
    variance. Weights are quantized to integers so the cumulative sum is
    exact: no floating-point summation-order hazards, which makes the
    operator bit-reproducible across engines and across re-runs at any
    partitioning (the fp-safe analogue of the E-S exponential-keys method).

    Cost: one hash partition on ``key`` shared by both window frames, then a
    filter — no second shuffle, no per-key collect.
    """
    from pyspark.sql import Window

    w_int = F.col("_w")
    run = (
        Window.partitionBy(key)
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(key)
    weighted = (
        df.withColumn("_w", weight)
        .withColumn("_cum", F.sum(w_int).over(run))
        .withColumn("_total", F.sum(w_int).over(tot))
    )
    picked = F.floor(
        ((F.col("_cum") - w_int) * k).cast("double") / F.col("_total")
    ) < F.floor((F.col("_cum") * k).cast("double") / F.col("_total"))
    return weighted.filter(picked).drop("_w", "_cum", "_total")


@register(
    "sample_weighted_systematic",
    oracle="""
    WITH wts AS (
        SELECT user_id, event_id, ts, value,
               CAST(floor(abs(value) * 100) AS BIGINT) + 1 AS w
        FROM events
    ), cums AS (
        SELECT user_id, event_id, value, w,
               CAST(sum(w) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum,
               CAST(sum(w) OVER (PARTITION BY user_id) AS BIGINT) AS total
        FROM wts
    )
    SELECT user_id, event_id, value
    FROM cums
    WHERE floor(CAST((cum - w) * 5 AS DOUBLE) / total)
        < floor(CAST(cum * 5 AS DOUBLE) / total)
    """,
    tags=("sample", "weighted", "systematic"),
)
def q_sample_weighted_systematic(spark, sf_dir):
    """Weight-proportional deterministic sampling: ≤ 5 events per user,
    selection probability ∝ |value| (e.g. quality-score-weighted corpus
    subsampling). Integer-quantized weights keep the cumulative line exact,
    so Spark and the oracle agree bit-for-bit on every pick."""
    ev = load_table(spark, sf_dir, "events")
    w = F.floor(F.abs(F.col("value")) * 100).cast("long") + F.lit(1).cast("long")
    out = weighted_systematic_sample(ev, k=5, weight=w)
    return out.select("user_id", "event_id", "value")


def stratified_exact_sample(
    df: DataFrame,
    stratum: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sampling with EXACT per-stratum counts:
    keep the first ``ceil(fraction · n)`` rows of each stratum in
    md5(id)-order. Unlike seeded Bernoulli ``sampleBy`` (whose picks are
    engine-RNG-specific and whose counts are only correct in expectation),
    the selection is a pure function of the data — reproducible across
    engines, re-runs, and repartitionings, with exact counts, so the full
    pick-set is oracle-verifiable.

    Shape: one tiny per-stratum count agg broadcast back + one window rank
    partitioned by stratum — parallel per stratum, no global ordering (each
    stratum's rank is a single-task sort, so exact counts cost a
    |stratum|-bounded sort; for few, huge strata at 100 TB use hash-rate
    thinning as in ``corpus.source_mixture_fraction``).
    """
    frac = F.create_map(*[F.lit(x) for kv in fractions.items() for x in kv])
    counts = df.groupBy(stratum).agg(F.count("*").alias("_n"))
    targets = counts.select(
        F.col(stratum).alias("_st"),
        F.ceil(frac[F.col(stratum)] * F.col("_n")).cast("long").alias("_target"),
    )
    w = Window.partitionBy(stratum).orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    ranked = df.withColumn("_r", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(targets), ranked[stratum] == targets["_st"])
        .filter(F.col("_r") <= F.col("_target"))
        .drop("_st", "_target", "_r")
    )


@register(
    "sample_stratified_exact",
    oracle="""
    WITH f(lang, frac) AS (
        VALUES ('en', 0.5), ('fr', 0.2), ('de', 0.2), ('es', 0.2), ('zh', 0.2)
    ), tgt AS (
        SELECT d.lang, CAST(ceil(f.frac * count(*)) AS BIGINT) AS target
        FROM documents d JOIN f USING (lang)
        GROUP BY d.lang, f.frac
    ), ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS r
        FROM documents
    )
    SELECT ranked.doc_id, ranked.lang
    FROM ranked JOIN tgt USING (lang)
    WHERE r <= target
    """,
    tags=("sample", "stratified", "deterministic"),
)
def q_stratified_exact(spark, sf_dir):
    """Exact-count deterministic stratified sample (md5-ranked per lang) —
    the oracle-checkable twin of the seeded-RNG ``sample_stratified``."""
    docs = load_table(spark, sf_dir, "documents")
    out = stratified_exact_sample(
        docs, "lang", {"en": 0.5, "fr": 0.2, "de": 0.2, "es": 0.2, "zh": 0.2}
    )
    return out.select("doc_id", "lang")
