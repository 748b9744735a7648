"""Similarity search over embedding columns (SURVEY.md §2.8).

- **Brute-force cosine top-k** (the exactness baseline): broadcast the small
  query set against the corpus, rank per query. At 100 TB the corpus side
  stays partitioned and never shuffles — only per-partition partial top-k
  then a cheap final merge (row_number over k·|queries| rows).
- **LSH-bucketed ANN** (the scale path): sign-random-projection bucketing
  with deterministic hyperplanes derived from xxhash64 — probe the query's
  bucket (plus multi-probe neighbors), exact-rank only within buckets.
  Candidate sets shrink by ~2^bits; recall is property-tested against the
  brute-force baseline (tests/test_dedup_similarity.py).

Vector math is Catalyst higher-order functions (functions/vector.py) — no
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import ensure_min_partitions, load_table
from ..functions.vector import as_double, cosine, dot, norm
from ..plans.registry import register
from ..session import SHUFFLE_PARTITIONS

__all__ = [
    "brute_force_topk",
    "srp_buckets",
    "srp_buckets_seeded",
    "lsh_topk",
    "ivf_train",
    "ivf_assign",
    "ivf_topk",
    "ivf_topk_seeded",
]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: Arrow-batched GEMM scoring, window top-k merge.

    Output: (query_id, neighbor_id, cos, rank) excluding self-matches.

    The query set (the small side by contract) is collected once into a
    unit-normalized float64 matrix and BROADCAST; each corpus Arrow batch
    scores all queries with ONE numpy matrix multiply and emits only its
    batch-local top-(k+32) per query, so the corpus never shuffles and the
    final exact re-rank (round-9 cosine desc, neighbor id asc — the same
    deterministic order the DuckDB oracles use) runs over k'·|queries|·
    |batches| rows, not |corpus|·|queries|. This replaced a per-pair
    Catalyst HOF fold that was 25× slower at sf0.1 (50 s → 2 s for the
    5000×5000 kNN-probe/hubness scans): pairwise scoring IS a GEMM, and
    BLAS beats one-expression-per-pair by orders of magnitude at any
    scale.

    The +32 local margin makes the batch-local cut safe against round-9
    cosine TIES straddling the cut (the global re-rank is exact for
    everything that survives): a wrong answer would need >32 tied-at-1e-9
    candidates above the k-th inside one batch — duplicate-heavy corpora
    where that can happen should dedup vectors first (operators/dedup.py)
    or raise the margin."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    q_rows = queries.select(query_id, vec).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qmat))
    m_local = k + 32

    def score(batches):
        qids_, qn = bq.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            order = np.argsort(ids)  # id-ascending => stable sorts tie-break by id
            ids = ids[order]
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec]])[order]
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            s9 = np.round(cmat @ qn.T, 9)  # (n_c, n_q), oracle-grade rounding
            m = min(m_local, s9.shape[0])
            if m < s9.shape[0]:
                top = np.argpartition(-s9, m - 1, axis=0)[:m]
            else:
                top = np.broadcast_to(
                    np.arange(s9.shape[0])[:, None], (s9.shape[0], nq)
                )
            yield pd.DataFrame(
                {
                    query_id: np.broadcast_to(qids_, top.shape).ravel(),
                    "neighbor_id": ids[top].ravel(),
                    "cos": np.take_along_axis(s9, top, axis=0).ravel(),
                }
            )

    scored = corpus.select(id_col, vec).mapInPandas(
        score, schema=f"{query_id} long, neighbor_id long, cos double"
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def srp_buckets(df: DataFrame, vec_double: str, bits: int = 8, dim: int = 64) -> DataFrame:
    """Sign-random-projection bucket id (deterministic ANN hashing).

    Hyperplane h_b component j = a fixed pseudo-random ±1 derived from
    xxhash64(b, j) — no stored model, identical on every executor, no
    driver-side randomness. bucket = Σ_b (sign(h_b·v) << b).
    """
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        # ±1 pattern for plane b: parity of xxhash64(j, b) per component j.
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_double),
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, j: F.when(F.pmod(F.xxhash64(j, F.lit(b)), F.lit(2)) == 1, x).otherwise(-x),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseXOR(F.shiftleft(F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), b))
    return df.withColumn("bucket", bucket)


# Seeded-hyperplane SRP twin: the ±1 components come from the same seeded
# PRNG scheme as the banded embedding dedup (operators/dedup.py), inlined
# as literals into both the Spark expression and the DuckDB oracle — unlike
# the xxhash64 variant above, the bucketing (and therefore the registered
# LSH query's exact result set) is reproducible cross-engine.
_LSH_SEED = 20260815


def srp_buckets_seeded(
    df: DataFrame, vec_double: str, bits: int = 4, dim: int = 64, seed: int = _LSH_SEED
) -> DataFrame:
    from .dedup import _srp_signs

    signs = _srp_signs(1, bits, dim, seed)[0]
    bucket = F.lit(0).cast("long")
    for b in range(bits):
        plane = F.array(*[F.lit(s) for s in signs[b]])
        bucket = bucket + F.when(dot(F.col(vec_double), plane) > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        ).cast("long")
    return df.withColumn("bucket", bucket)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
    multi_probe: bool = True,
) -> DataFrame:
    """ANN top-k: exact ranking restricted to the query's SRP bucket(s).

    Join on bucket equality instead of cross join — candidate count drops by
    ~2^bits. ``multi_probe`` additionally probes every bucket at Hamming
    distance 1 from the query's (bits+1 probes): near-boundary neighbors
    whose sign flipped on one hyperplane are recovered, trading candidate
    volume (×(bits+1)/2^bits of the corpus) for recall — the standard
    multi-probe LSH knob. Hyperplanes are the seeded literal kind
    (``srp_buckets_seeded``), so the registered query carries a full
    DuckDB oracle of the identical bucketing.
    """
    c = srp_buckets_seeded(
        corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec)).alias("v_c")),
        "v_c",
        bits,
        dim,
    )
    q = srp_buckets_seeded(
        queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q")), "v_q", bits, dim
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)]
        )
        q = q.withColumn("bucket", F.explode(probes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn("cos", cosine(F.col("v_q"), F.col("v_c")))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc(F.round("cos", 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "sim_bruteforce_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS v_q FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.v_q, e.v) AS cos
        FROM e JOIN q ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    tags=("similarity", "topk"),
)
def q_sim_bruteforce(spark, sf_dir):
    """Exact cosine top-5 neighbors for queries vec_id<10 — the ANN
    correctness baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5)


def _lsh_oracle(k: int = 5, bits: int = 4, dim: int = 64, seed: int = _LSH_SEED) -> str:
    """DuckDB twin of multi-probe SRP-LSH: same inlined hyperplane signs,
    same bucket arithmetic, same Hamming-1 probe set, same exact ranking."""
    from .dedup import _srp_signs

    signs = _srp_signs(1, bits, dim, seed)[0]
    bucket_terms = " + ".join(
        "(CASE WHEN list_dot_product(v, [%s]) > 0 THEN %d ELSE 0 END)"
        % (",".join(str(s) for s in signs[b]), 1 << b)
        for b in range(bits)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << b})" for b in range(bits)])
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS v_q, bucket FROM b WHERE vec_id < 10),
    qp AS (SELECT query_id, v_q, unnest([{probes}]) AS bucket FROM q),
    scored AS (
        SELECT qp.query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(qp.v_q, c.v) AS cos
        FROM b c JOIN qp ON c.bucket = qp.bucket AND c.vec_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@register("sim_lsh_topk", oracle=_lsh_oracle(), tags=("similarity", "lsh", "ann"))
def q_sim_lsh(spark, sf_dir):
    """Multi-probe SRP-LSH ANN top-5 for the same query set. Fully
    oracle-checked: the seeded literal hyperplanes make bucketing and the
    probe set bit-reproducible in DuckDB; recall vs brute force is
    additionally property-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, k=5, bits=4)


@register(
    "sim_label_centroids",
    oracle="""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    ex AS (SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM e)
    SELECT label, CAST(i AS INTEGER) AS dim, round(avg(x), 6) AS centroid
    FROM ex GROUP BY label, i
    """,
    tags=("similarity", "centroid"),
)
def q_sim_label_centroids(spark, sf_dir):
    """Per-label centroid of the embedding column (posexplode + grouped avg)
    — the building block of IVF coarse quantization / k-means steps."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode(as_double(F.col("embedding"))).alias("i", "x"))
    return (
        ex.groupBy("label", (F.col("i") + 1).cast("int").alias("dim"))
        .agg(F.round(F.avg("x"), 6).alias("centroid"))
    )


def _centroid_row(centroids: DataFrame) -> DataFrame:
    """Collapse the K-row centroid table to a SINGLE row holding
    array<struct(cell, c_nvec)> — the broadcastable model literal."""
    return centroids.agg(F.collect_list(F.struct("cell", "c_nvec")).alias("_cents"))


def _nearest_cells(vec_col: str) -> F.Column:
    """array<struct(d, cell)> of (rounded −cosine·‖v‖, cell) per centroid —
    ascending struct order IS the cosine argmin order with the
    deterministic lowest-cell tie-break."""
    return F.transform(
        "_cents",
        lambda c: F.struct(
            F.round(-dot(F.col(vec_col), c.getField("c_nvec")), 9).alias("d"),
            c.getField("cell").alias("cell"),
        ),
    )


def ivf_assign(df: DataFrame, centroids: DataFrame, vec_col: str, id_cols: list[str]) -> DataFrame:
    """Assign each vector to its nearest centroid with ZERO shuffles: the
    K-row centroid table collapses to one broadcast row of
    struct(cell, c_nvec), and the argmin is a per-row ``array_min`` over a
    ``transform`` — no K-way row explosion, no grouped aggregation, which
    matters when assign runs once per Lloyd iteration AND when the corpus
    is 100 TB (the model ships to every task; the data never moves).

    Distance is ``-dot(vec, c_nvec)`` against the pre-unit-normalized
    centroid: one O(dim) fold per (vector, cell). The row's own norm is a
    positive per-row constant across cells, so the argmin is the cosine
    argmin whether or not ``df``'s vectors are normalized. ``id_cols`` is
    kept for API stability; all of ``df``'s columns pass through."""
    del id_cols  # argmin is per-row now — no grouping key needed
    scored = df.crossJoin(F.broadcast(_centroid_row(centroids)))
    return scored.withColumn(
        "cell", F.array_min(_nearest_cells(vec_col)).getField("cell")
    ).drop("_cents")


def ivf_probe_cells(
    df: DataFrame, centroids: DataFrame, vec_col: str, nprobe: int
) -> DataFrame:
    """Like :func:`ivf_assign` but keeps the ``nprobe`` nearest cells: adds
    ``cell`` (the primary assignment, rn = 1) and ``probe_cells``
    (array<int> of the nprobe nearest cells in probe order, primary
    first).  Same broadcast one-row centroid model, same
    round(-dot, 9) + min-cell tiebreak as every serve — zero shuffles,
    no row explosion; the probe set is a per-row array the caller
    explodes only where it joins."""
    scored = df.crossJoin(F.broadcast(_centroid_row(centroids)))
    probes = F.transform(
        F.slice(F.array_sort(_nearest_cells(vec_col)), 1, nprobe),
        lambda s: s.getField("cell").cast("int"),
    )
    return (
        scored.withColumn("probe_cells", probes)
        .withColumn("cell", F.element_at("probe_cells", 1))
        .drop("_cents")
    )


def _cell_means(assigned: DataFrame, vec_col: str, dim: int = 64) -> DataFrame:
    """Per-cell mean vector in ONE grouped aggregation: ``dim`` per-position
    ``avg(vec[i])`` aggregate buffers reassembled into an array — a single
    shuffle of K×dim partial sums, replacing the posexplode → groupBy(cell,
    i) → collect_list two-shuffle shape (each extra shuffle is a whole AQE
    stage of fixed latency locally, and a full exchange at cluster scale).

    Emits both the raw mean ``c_vec`` and its unit-normalized twin
    ``c_nvec`` (K rows — negligible), so assignment and probing pay one
    dot-product fold per pair instead of recomputing centroid norms."""
    cents = assigned.groupBy("cell").agg(
        F.array(*[F.avg(F.col(vec_col)[i]) for i in range(dim)]).alias("c_vec")
    )
    cents = cents.withColumn("_n", norm(F.col("c_vec")))
    return cents.select(
        "cell", "c_vec", F.transform("c_vec", lambda x: x / F.col("_n")).alias("c_nvec")
    )


def _cell_means_exact(assigned: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Per-cell mean with EXACT arithmetic: component sums are
    1e-9-quantized BIGINTs (associative — any partition order gives the
    same centroid doubles), the `kmeans_lloyd_exact` device.  Emits
    (cell, c_vec, c_nvec) like `_cell_means`.  The rebuild stays a LAZY
    distributed relation (long→double division is the same IEEE op either
    side of a collect): nothing is collected to the driver, and
    `ivf_train`'s whole iteration chain executes inside its final eager
    checkpoint.  That checkpoint is still several jobs, because AQE runs
    each shuffle stage as its own job: 3 jobs for the seed means plus 4
    per Lloyd iteration (sf0.01, k=4).  A per-iteration model collect was
    measured ~1 s/iteration SLOWER here (unlike `kmeans_lloyd_exact`,
    whose pre-r13 baseline was the py4j-unrolled per-component
    aggregate, this caller never paid that cost)."""
    part = (
        assigned.select(
            "cell",
            F.posexplode(
                F.transform(vec_col, lambda x: F.round(x * 1e9).cast("long"))
            ).alias("pos", "q"),
        )
        .groupBy("cell", "pos")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
    )
    cents = part.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
            lambda t: t["s"].cast("double") / (F.lit(1_000_000_000.0) * t["n"]),
        ).alias("c_vec")
    )
    cents = cents.withColumn("_n", norm(F.col("c_vec")))
    return cents.select(
        "cell", "c_vec", F.transform("c_vec", lambda x: x / F.col("_n")).alias("c_nvec")
    )


def ivf_train(
    corpus: DataFrame, vec_col: str, id_col: str, k: int = 16, iters: int = 2, dim: int = 64
) -> DataFrame:
    """Deterministic coarse quantizer: seed cells by ``id % k``, then run
    ``iters`` distributed Lloyd iterations (assign to nearest centroid →
    per-cell mean). Every step is a grouped aggregate or a broadcast
    crossJoin — no driver-side data, no randomness, reproducible across
    executors and runs.

    ``iters=0`` returns the seed centroids (means of the ``id % k``
    partition); the returned centroids are always the means of the LAST
    assignment, so train/assign compose without an off-by-one.

    r14 (VERDICT r13 item 2): centroid updates use the EXACT quantized
    long-sum means (`_cell_means_exact`) instead of engine-order fp
    ``avg`` — any partition order now gives bit-identical centroids, so
    `sim_ivf_topk` carries a full DuckDB value-hash oracle instead of the
    rows-only check (output verified identical to the fp-avg path at
    sf0.001/0.01/0.1 before the swap).  The iterations build one lazy
    plan with no driver collect; the final ``localCheckpoint(eager=True)``
    executes it (see `_cell_means_exact` for its job count).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    assigned = corpus.select(
        F.col(vec_col), (F.col(id_col) % k).cast("int").alias("cell")
    )
    cents = _cell_means_exact(assigned, vec_col, dim)
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, vec_col, [id_col])
        cents = _cell_means_exact(assigned, vec_col, dim)
    return cents.localCheckpoint(eager=True)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into ``n_cells`` inverted
    lists, probe each query's ``nprobe`` nearest cells, exact-rank only
    within the probed lists.

    The scale shape: the trained centroid table is a K-row MODEL,
    broadcast to both the corpus assignment and the query probing — the
    corpus never shuffles on anything but its own id, and the candidate
    join's build side (queries × nprobe) is tiny and broadcast. Candidate
    volume is ~nprobe/n_cells of the corpus vs the brute-force cross join.
    (An alternative that collects the K centroids and inlines them as
    literal arrays was measured 4× SLOWER locally: ~2k literal expression
    nodes fall out of codegen into interpreted evaluation — keeping the
    model as a broadcast DataFrame is both the cleaner and the faster
    form.) Recall is property-tested against brute_force_topk
    (tests/test_dedup_similarity.py).
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec)).alias("v_c"))
    # Unit-normalize both sides ONCE (norm hoisted to a sibling column so the
    # transform lambda doesn't re-fold it per element); every downstream
    # distance is then a single dot-product fold, and the final score
    # dot(nv_q, nv_c) IS the exact cosine of the raw vectors (up to fp
    # rounding far below the round-6 output precision).
    #
    # The normalized corpus is materialized once (lazy localCheckpoint):
    # every Lloyd iteration's centroid broadcast executes as its own job
    # whose subtree would otherwise re-run the parquet read + normalize
    # chain — with the checkpoint those jobs read the materialized rows.
    # Same move at cluster scale: persist the normalized projection before
    # iterating (A/B at sf0.1: 4.73s → 4.33s warm median; the pre-r3
    # groupBy-argmin shape, which shuffles the whole corpus per iteration,
    # measured 4.65s — see SCALE.md §IVF).
    # r13 (guide §2.1): spread before the normalize fold — the projection
    # otherwise materializes on the scan's single partition inside the
    # eager training checkpoint job.
    c = ensure_min_partitions(c).withColumn("_n", norm(F.col("v_c"))).select(
        "neighbor_id", F.transform("v_c", lambda x: x / F.col("_n")).alias("v_c")
    ).localCheckpoint(eager=False)
    q = queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q"))
    q = q.withColumn("_n", norm(F.col("v_q"))).select(
        query_id, F.transform("v_q", lambda x: x / F.col("_n")).alias("v_q")
    )
    cents = ivf_train(c, "v_c", "neighbor_id", k=n_cells)
    return _ivf_probe_rank(c, q, cents, k=k, nprobe=nprobe, query_id=query_id)


def _ivf_probe_rank(
    c: DataFrame, q: DataFrame, cents: DataFrame, k: int, nprobe: int, query_id: str
) -> DataFrame:
    """Shared IVF serving path: assign the (normalized) corpus to cells,
    probe each query's ``nprobe`` nearest cells, exact-rank candidates.
    Both assignment and probing are projections against the broadcast
    one-row centroid model; the candidate join's build side is tiny."""
    c_cells = ivf_assign(c, cents, "v_c", ["neighbor_id"])
    return _probe_rank_preassigned(c_cells, q, cents, k=k, nprobe=nprobe, query_id=query_id)


def _probe_rank_preassigned(
    c_cells: DataFrame, q: DataFrame, cents: DataFrame, k: int, nprobe: int, query_id: str
) -> DataFrame:
    """Probe + exact-rank against a corpus whose cell assignment is already
    materialized — the serve half shared by :func:`_ivf_probe_rank` and the
    streaming index (streaming/ann_ingest.py), where assignment was paid
    once at ingest."""
    # Query probing is the same broadcast-model projection: sort the per-row
    # (distance, cell) structs, keep the nprobe nearest — no window, no
    # per-cell row explosion.
    q_cells = (
        q.crossJoin(F.broadcast(_centroid_row(cents)))
        .withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(_nearest_cells("v_q")), 1, nprobe),
                    lambda s: s.getField("cell"),
                )
            ),
        )
        .select(query_id, "v_q", "cell")
    )
    scored = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col(query_id))
        .withColumn("cos", dot(F.col("v_q"), F.col("v_c")))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc(F.round("cos", 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def ivf_topk_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """IVF with DETERMINISTIC seed centroids (no Lloyd iterations): cell j's
    centroid is the unit-normalized vector of corpus id j. Every number in
    the pipeline — centroids, assignment argmin, probe ranking, candidate
    cosines — is then an exact expression over parquet values with a fixed
    left-to-right fold order, so the full serving path (assign → probe →
    rank) carries a bit-exact DuckDB oracle; the Lloyd-trained variant
    stays rows-only because distributed ``avg`` partial-aggregation order
    is engine-specific."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec)).alias("v_c"))
    c = c.withColumn("_n", norm(F.col("v_c"))).select(
        "neighbor_id", F.transform("v_c", lambda x: x / F.col("_n")).alias("v_c")
    )
    q = queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q"))
    q = q.withColumn("_n", norm(F.col("v_q"))).select(
        query_id, F.transform("v_q", lambda x: x / F.col("_n")).alias("v_q")
    )
    cents = c.filter(F.col("neighbor_id") < n_cells).select(
        F.col("neighbor_id").cast("int").alias("cell"), F.col("v_c").alias("c_nvec")
    )
    return _ivf_probe_rank(c, q, cents, k=k, nprobe=nprobe, query_id=query_id)


@register(
    "dedup_semantic_clusters",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, nv, cell FROM (
            SELECT n.vec_id, n.nv, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn = 1
    )
    SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.nv, b.nv), 6) AS cos
    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.nv, b.nv), 9) >= 0.3
    """,
    tags=("dedup", "semantic", "embedding", "cluster", "scale-path"),
)
def q_dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup-style cluster-pruned semantic near-dup pairs (Abbas et al.
    2023, public): assign every embedding to its nearest of 16
    deterministic seed centroids (the seeded-IVF convention — cell j =
    unit vector of corpus id j, so the whole pipeline carries a bit-exact
    oracle), then search for cosine >= tau pairs ONLY within each
    cluster. The pairwise term collapses from |corpus|^2 to
    sum(|cluster|^2) — at sf0.01 that is 7,781 scored pairs vs 124,750
    all-pairs (16x), and at 100 TB it is the difference between
    impossible and routine, the entire point of semantic dedup by
    clustering. tau=0.3 is calibrated to the synthetic embeddings (max
    observed intra-cluster cosine 0.49; real text embeddings would use
    ~0.95). Assignment is the zero-shuffle broadcast-centroid projection
    (`ivf_assign`); the self-join shuffles on `cell` only.

    Complementary to `dedup_embedding_cosine` (SRP banding: probabilistic
    recall, any pair) — clustering gives deterministic within-cluster
    exactness and is the shape used for corpus-level semantic pruning
    rather than pair discovery."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    c = c.withColumn("_n", norm(F.col("v"))).select(
        "vec_id", F.transform("v", lambda x: x / F.col("_n")).alias("v")
    )
    cents = c.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("c_nvec")
    )
    assigned = ivf_assign(c, cents, "v", ["vec_id"]).localCheckpoint(eager=False)
    a = assigned.select("cell", F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = assigned.select("cell", F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    cos = dot(F.col("va"), F.col("vb"))
    # r13: salted explicit-parallelism self-join (`_exploding_cell_join`)
    return (
        _exploding_cell_join(a, b, 16, "id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cos)
        .filter(F.round("_cos", 9) >= 0.3)
        .select("cell", "id_a", "id_b", F.round("_cos", 6).alias("cos"))
    )


def ivf_topk_relation(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN top-k where the QUERY SIDE IS A RELATION — the
    millions-of-queries / corpus-vs-corpus shape (VERDICT r7 item 5).

    ``exclude_self=True`` (the default, right for the kNN SELF-join serve
    where queries ARE corpus rows) drops candidates whose ``neighbor_id``
    equals the ``query_id`` — which assumes the two id spaces are shared.
    When the query relation carries EXTERNAL ids (a crawl shard joined
    against the corpus), an accidental id collision would silently drop a
    legitimate nearest neighbor: pass ``exclude_self=False`` for that
    shape.

    ``brute_force_topk`` and the broadcast IVF serve treat the query set
    as a bounded panel: the GEMM path collects it to the driver and the
    IVF path broadcasts ``queries × nprobe`` probe rows.  Both are right
    for top-k serving of a dashboard's query list and wrong when the
    query side is itself a 100 TB-scale relation (join every new crawl
    shard against the corpus; kNN self-join for dedup graphs).  This path
    keeps every step executor-side:

    - the ONLY broadcast is the K-row centroid model (assignment and
      probing are per-row projections against it, exactly as in
      :func:`ivf_topk_seeded`);
    - the candidate join is a SHUFFLE hash join on ``cell``
      (``hint("shuffle_hash")`` pins it so a small test relation doesn't
      silently take the broadcast plan the production shape can't use) —
      both sides exchange once on the cell key, candidate volume is
      ~nprobe/n_cells of the cross product;
    - per-query ranking is a window over the ``query_id`` exchange.

    No ``.collect()``, no Python-side materialization anywhere: |Q| rides
    the shuffle machinery, so 10 rows and 10 million rows take the same
    plan.  Same deterministic seed centroids (cell j = normalized corpus
    vector j) and identical fold arithmetic as ``ivf_topk_seeded`` — the
    two paths are bit-identical on the same inputs (pinned by
    tests/test_r8_operators.py) and this one carries the same full DuckDB
    oracle."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec)).alias("v_c"))
    c = c.withColumn("_n", norm(F.col("v_c"))).select(
        "neighbor_id", F.transform("v_c", lambda x: x / F.col("_n")).alias("v_c")
    )
    q = queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q"))
    q = q.withColumn("_n", norm(F.col("v_q"))).select(
        query_id, F.transform("v_q", lambda x: x / F.col("_n")).alias("v_q")
    )
    cents = c.filter(F.col("neighbor_id") < n_cells).select(
        F.col("neighbor_id").cast("int").alias("cell"), F.col("v_c").alias("c_nvec")
    )
    c_cells = ivf_assign(c, cents, "v_c", ["neighbor_id"])
    q_cells = (
        q.crossJoin(F.broadcast(_centroid_row(cents)))
        .withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(_nearest_cells("v_q")), 1, nprobe),
                    lambda s: s.getField("cell"),
                )
            ),
        )
        .select(query_id, "v_q", "cell")
    )
    # r13: salted explicit-parallelism candidate join (see
    # `_exploding_cell_join` — AQE coalesced this exploding join to one
    # partition at harness scale, serializing the per-candidate dot folds)
    scored = _exploding_cell_join(c_cells, q_cells, n_cells, query_id)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col(query_id))
    scored = scored.withColumn("cos", dot(F.col("v_q"), F.col("v_c")))
    w = Window.partitionBy(query_id).orderBy(F.desc(F.round("cos", 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def _ivf_lloyd_oracle(k: int = 5, n_cells: int = 16, nprobe: int = 4, iters: int = 2) -> str:
    """DuckDB twin of `ivf_topk`'s Lloyd-trained pipeline: id%K seed
    means, `iters` exact-arithmetic updates (`_cell_means_exact`'s
    1e-9-quantized BIGINT component sums — r14, VERDICT r13 item 2),
    cosine assignment/probing against the unit-normalized centroid with
    the round(-dot, 9) + min-cell tie-break, cosine rank over probed
    candidates.  Every number is a fixed-order fold both engines
    reproduce bit-wise — the upgrade that retired `sim_ivf_topk`'s
    rows-only carve-out."""

    def update(a: str, out: str) -> str:
        # exact means of assignment ``a`` (cols: vec_id, nv, cell) →
        # (cell, cn) with cn the UNIT-NORMALIZED centroid
        return f"""{out}_g AS (
        SELECT cell, generate_subscripts(nv, 1) AS pos, unnest(nv) AS x FROM {a}
    ), {out}_m AS (
        SELECT cell,
               list(CAST(s AS DOUBLE) / (1000000000.0 * n) ORDER BY pos) AS c
        FROM (SELECT cell, pos,
                     SUM(CAST(round(x * 1000000000) AS BIGINT)) AS s,
                     COUNT(*) AS n
              FROM {out}_g GROUP BY cell, pos)
        GROUP BY cell
    ), {out} AS (
        SELECT cell,
               list_transform(c, x -> x / sqrt(list_dot_product(c, c))) AS cn
        FROM {out}_m
    )"""

    def assign(cent: str, out: str) -> str:
        return f"""{out} AS (
        SELECT vec_id, nv, cell FROM (
            SELECT n.vec_id, n.nv, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.cn), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN {cent} c)
        WHERE rn = 1
    )"""

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "n AS (SELECT vec_id,"
        " list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv FROM e)",
        f"a0 AS (SELECT vec_id, nv, CAST(vec_id % {n_cells} AS INT) AS cell FROM n)",
        update("a0", "c0"),
    ]
    cur = "c0"
    for i in range(1, iters + 1):
        ctes.append(assign(cur, f"a{i}"))
        ctes.append(update(f"a{i}", f"c{i}"))
        cur = f"c{i}"
    ctes.append(assign(cur, "af"))
    ctes.append(
        f"""probes AS (
        SELECT query_id, v_q, cell FROM (
            SELECT n.vec_id AS query_id, n.nv AS v_q, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.cn), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN {cur} c WHERE n.vec_id < 10)
        WHERE rn <= {nprobe}
    )"""
    )
    ctes.append(
        """scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_dot_product(p.v_q, a.nv) AS cos
        FROM af a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )"""
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@register(
    "sim_ivf_topk",
    oracle=_ivf_lloyd_oracle(k=5, n_cells=16, nprobe=4, iters=2),
    tags=("similarity", "ivf", "ann"),
)
def q_sim_ivf(spark, sf_dir):
    """IVF ANN top-5 for the same query set as the brute-force baseline.
    r14: full value-hash oracle (was rows-only through r13) — `ivf_train`
    now uses exact quantized-mean Lloyd updates, so the trained centroids
    are partition-order-independent and DuckDB reproduces the whole
    train → assign → probe → rank pipeline bit-wise (output verified
    identical to the old fp-avg path at sf0.001/0.01/0.1 before the
    swap); recall additionally property-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4)


_IVF_SEEDED_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, nv, cell FROM (
            SELECT n.vec_id, n.nv, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, v_q, cell FROM (
            SELECT n.vec_id AS query_id, n.nv AS v_q, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c WHERE n.vec_id < 10)
        WHERE rn <= 4
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_dot_product(p.v_q, a.nv) AS cos
        FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 5
    """


@register("sim_ivf_topk_seeded", oracle=_IVF_SEEDED_ORACLE, tags=("similarity", "ivf", "ann"))
def q_sim_ivf_seeded(spark, sf_dir):
    """IVF ANN with deterministic seed centroids (cell j = normalized vector
    of corpus id j, no Lloyd iterations) — upgrades the IVF assign → probe →
    rank pipeline from a rows-only check to a full value-hash oracle: every
    distance is an exact fixed-order fold both engines reproduce bit-wise.
    The Lloyd-trained ``sim_ivf_topk`` stays rows-only (distributed avg
    order is engine-specific); recall for both is property-tested against
    ``brute_force_topk``."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_seeded(emb, queries, k=5, n_cells=16, nprobe=4)


# --- auto-sized coarse quantizer (r12 + r13 ladder, VERDICT r12 item 4) ---
# The relation-side serves (|Q| = N) generate ~N·nprobe·(N/K) candidate
# rows; at FIXED K that volume grows ~N²/K — measured 27×/67× at 10× data
# (SCALE.md r11).  K = ⌈N / _CELL_TARGET⌉ keeps the per-cell candidate list
# constant (candidates linear in N), but the OTHER term — the broadcast-
# model probe/assign projection, a·N·K interpreted HOF work — then grows
# ~N²/target and dominates once K passes the balance point.  r13 measured
# the full U-curve at sf1x (N = 20 000, nprobe = 2, ivf_topk_relation):
# K = 12 → 128 s, 20 → 62, 28 → 44, 40 → 30–35, 56 → 36, 80 → 33,
# 120 → 44, 160 (the linear rule) → 52–57, 300 → 100.  The bottom sits at
# K ≈ 0.4·√N — the K ∝ √N rung of the documented IVF ladder, which
# balances a·N·K against b·N²·nprobe/K — so the shipped rule is
#
#     K = max(4, ⌈min(N / 125,  0.4·√N)⌉)
#
# linear-K below the measured crossover (N/125 = 0.4√N ⟺ N = 2 500 — the
# local[32] balance constant; re-tune per deployment), √N above it.  At
# the measured points: sf0.01 → 4 and sf0.1 → 16 (both unchanged — the
# linear branch), sf1x → 57 (√ branch; ~35 s vs 52-57 s at the linear
# rule's 160).  Both engines derive K from the same count and the same
# IEEE double chain (/125.0, 0.4·sqrt, least, ceil) — parity holds at
# every scale factor without re-tuning.  Candidate volume on the √ branch
# grows N^1.5; restoring linearity at extreme N is the NEXT rung —
# vectorized assignment (`ivf_assign_gemm`) or hierarchical coarse
# quantization shrink `a` so the linear-K rule wins again (documented in
# the serve docstrings).  The GEMM path is not bit-safe against the fold:
# numpy sums dot products in another order, so a distance within ~1e-15
# of a round-9 boundary can flip a cell.  `sim_topk_relation_gemm` still
# carries the fold's full oracle with no band guard around that boundary;
# the guard is an open item (ROADMAP item 4).
_CELL_TARGET = 125
_CELL_FLOOR = 4
_CELL_SQRT_C = 0.4
_AUTO_CELLS_SQL = (
    f"(SELECT GREATEST({_CELL_FLOOR}, "
    f"CAST(ceil(LEAST(count(*) / {_CELL_TARGET}.0, "
    f"{_CELL_SQRT_C} * sqrt(count(*)))) AS INT)) FROM embeddings)"
)


def auto_cells(corpus: DataFrame) -> int:
    """K = max(floor, ⌈min(N/target, c·√N)⌉) from one bounded count() —
    the Spark twin of ``_AUTO_CELLS_SQL`` (same integers: both engines
    run the identical IEEE double chain on the same count)."""
    import math  # noqa: PLC0415

    n = corpus.count()
    return max(
        _CELL_FLOOR,
        math.ceil(min(n / _CELL_TARGET, _CELL_SQRT_C * math.sqrt(n))),
    )


_TOPK_RELATION_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < {_AUTO_CELLS_SQL}),
    assign AS (
        SELECT vec_id, nv, cell FROM (
            SELECT n.vec_id, n.nv, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, v_q, cell FROM (
            SELECT n.vec_id AS query_id, n.nv AS v_q, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn <= 2
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_dot_product(p.v_q, a.nv) AS cos
        FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 3
    """


@register("sim_topk_relation", oracle=_TOPK_RELATION_ORACLE, tags=("similarity", "ivf", "ann", "relation"))
def q_sim_topk_relation(spark, sf_dir):
    """Corpus-vs-corpus kNN join (every embedding row is a query; top-3
    neighbors within its 2 probed IVF cells) through the
    QUERY-SIDE-AS-RELATION path: no driver collect, no query broadcast —
    the candidate join shuffles both sides on the cell key, the shape
    that survives a query side of millions of rows.  Same seeded
    deterministic centroids and fold arithmetic as `sim_ivf_topk_seeded`,
    so the full assign → probe → shuffle-join → rank pipeline is
    value-hash-checked against DuckDB.

    r12: the quantizer AUTO-SIZES — K = ⌈N/125⌉ (see `auto_cells`), so
    candidate volume stays linear in the corpus instead of the fixed-K
    ~N²/K blow-up SCALE.md measured at sf1x."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk_relation(emb, queries, k=3, n_cells=auto_cells(emb), nprobe=2)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-embedding codebook assignment
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUB = 16     # dims per subspace
_PQ_K = 16       # codes per subspace


def pq_assign(corpus: DataFrame, id_col: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """Assign every vector a PQ code per subspace: split the 64-dim vector
    into ``m=4`` blocks of 16 dims; block s's codebook is the corresponding
    block of corpus ids 0..k-1 (deterministic seeding, same convention as
    ``ivf_topk_seeded``); code = argmin squared-L2 within the block.

    The compressed form (4 bytes/vector here; m·log2(k) bits in general)
    is what makes billion-scale ANN memory-resident — IVF-PQ serving
    scans 100 TB of raw vectors as ~1.6 TB of codes. Shape: the k-row
    codebook collapses to ONE broadcast row; assignment is a pure per-row
    projection (array_min over a transform — zero shuffles, zero row
    explosion), identical to ``ivf_assign``'s broadcast-model pattern.

    Returns (vec_id, subspace, code, err): err = round-6 squared-L2 of the
    chosen code (the per-block quantization error audit, as
    ``embedding_int8_quantize`` does for scalar quantization)."""
    c = corpus.select(F.col(id_col), as_double(F.col(vec)).alias("v"))
    codes = corpus.filter(F.col(id_col) < _PQ_K).select(
        F.col(id_col).cast("int").alias("code"), as_double(F.col(vec)).alias("cv")
    )
    codes_row = codes.agg(F.collect_list(F.struct("code", "cv")).alias("_codes"))

    # One row per (vector, subspace), then a SINGLE argmin expression whose
    # slice offset is the subspace column. (The tempting alternative — four
    # sibling array_min(transform(aggregate(zip_with(...)))) expressions in
    # one projection — miscompiles in Spark 4.1: the copied nested-lambda
    # trees resolve against each other's lambda variables and every block
    # returns d=0. One HOF instance per projection sidesteps it and is the
    # better plan anyway: no 4-way expression duplication.)
    subs = c.select(
        id_col, "v", F.explode(F.array(*[F.lit(s) for s in range(_PQ_M)])).alias("subspace")
    )
    start = F.col("subspace") * _PQ_SUB + 1

    def block_d(cd):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("v"), start, _PQ_SUB),
                F.slice(cd.getField("cv"), start, _PQ_SUB),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.transform(
            "_codes",
            lambda cd: F.struct(
                F.round(block_d(cd), 9).alias("d"), cd.getField("code").alias("code")
            ),
        )
    )
    return (
        subs.crossJoin(F.broadcast(codes_row))
        .select(id_col, "subspace", best.alias("b"))
        .select(
            id_col,
            "subspace",
            F.col("b.code").alias("code"),
            F.round(F.col("b.d"), 6).alias("err"),
        )
    )


def _pq_oracle() -> str:
    branches = []
    for s in range(_PQ_M):
        off = s * _PQ_SUB
        fold = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> (v[{off} + i] - cv[{off} + i]) * (v[{off} + i] - cv[{off} + i]))), "
            "(acc, x) -> acc + x)"
        )
        branches.append(
            f"SELECT e.vec_id, {s} AS subspace, c.code, round({fold}, 9) AS d\n"
            "         FROM e CROSS JOIN codes c"
        )
    union = "\n        UNION ALL ".join(branches)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS (
        SELECT CAST(vec_id AS INT) AS code, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < {_PQ_K}
    ), scored AS (
        {union}
    ), ranked AS (
        SELECT vec_id, subspace, code, d,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d, code) AS rn
        FROM scored
    )
    SELECT vec_id, subspace, code, round(d, 6) AS err
    FROM ranked WHERE rn = 1
    """


@register("embedding_pq_codebook", oracle=_pq_oracle(), tags=("similarity", "pq", "quantization"))
def q_embedding_pq(spark, sf_dir):
    """Product-quantization code assignment (m=4 subspaces x k=16 codes,
    deterministic corpus-seeded codebooks) with per-block quantization
    error — fully oracle-checked: every squared-L2 fold is a fixed-order
    expression both engines reproduce bit-wise (argmin tie-break by lowest
    code id on both sides)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_assign(emb)


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k — serving over compressed codes
# ---------------------------------------------------------------------------

_ADC_QUERIES = 10
_ADC_K = 5




def _pq_lut(corpus: DataFrame, qx: DataFrame, id_col: str = "vec_id", vec: str = "embedding") -> DataFrame:
    """Per-query ADC lookup table: integer-scaled squared-L2 from each query
    sub-vector to every codeword of that subspace — |Q|·m·k rows, the
    broadcast-tiny side of every ADC join. ``qx`` carries (query_id, qv)."""
    cb = corpus.filter(F.col(id_col) < _PQ_K).select(
        F.col(id_col).cast("int").alias("code"), as_double(F.col(vec)).alias("cv")
    )
    start = F.col("subspace") * _PQ_SUB + 1
    d = F.aggregate(
        F.zip_with(
            F.slice(F.col("qv"), start, _PQ_SUB),
            F.slice(F.col("cv"), start, _PQ_SUB),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        qx.crossJoin(F.broadcast(cb))
        .select(
            "query_id", "qv", "cv", "code",
            F.explode(F.array(*[F.lit(s) for s in range(_PQ_M)])).alias("subspace"),
        )
        .select(
            "query_id", "subspace", "code",
            F.round(d * F.lit(1000000000.0)).cast("long").alias("pdi"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = _ADC_K,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the serving half of the
    IVF-PQ stack (``embedding_pq_codebook`` is the compression half). Per
    query, a lookup table of squared-L2 distances from each of its m=4
    RAW sub-vectors to all k=16 codewords of that subspace is built
    (|Q|·m·k rows — broadcast-tiny); a candidate's approximate distance is
    then the SUM of m table lookups on its codes, never a touch of its raw
    vector. That asymmetry (raw query vs coded corpus) is what lets a
    billion-vector corpus serve from the 4-byte codes alone.

    Scale shape: the corpus-sized side (`pq_assign` codes) joins the LUT
    by broadcast on (subspace, code) — zero corpus shuffle to score; the
    only exchanges are the (query_id, vec_id) partial-sum agg and the
    per-query rank. At real scale the candidate set would first be cut by
    IVF cell probing (`ivf_topk_seeded`) — composing the two is a filter
    on the same codes relation.

    Bit-parity: each LUT distance is the same fixed-order fold as
    `pq_assign`, scaled to an integer (round(d·1e9) as BIGINT), so the
    4-term sum is exact integer arithmetic — ranking and the value hash
    cannot drift with summation order."""
    qx = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec)).alias("qv")
    )
    lut = _pq_lut(corpus, qx, id_col=id_col, vec=vec)
    codes = pq_assign(corpus, id_col=id_col, vec=vec).select(id_col, "subspace", "code")
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("pdi").cast("long").alias("adci"))
    )
    w = Window.partitionBy("query_id").orderBy("adci", id_col)
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(F.col("adci").cast("double") / F.lit(1000000000.0), 6).alias("adc"),
            "rank",
        )
    )


def _adc_oracle() -> str:
    def fold(vname: str, s: int) -> str:
        off = s * _PQ_SUB
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> ({vname}[{off} + i] - cv[{off} + i]) * ({vname}[{off} + i] - cv[{off} + i]))), "
            "(acc, x) -> acc + x)"
        )

    assign_branches = "\n        UNION ALL ".join(
        f"SELECT e.vec_id, {s} AS subspace, c.code, round({fold('v', s)}, 9) AS d\n"
        "         FROM e CROSS JOIN codes c"
        for s in range(_PQ_M)
    )
    lut_branches = "\n        UNION ALL ".join(
        f"SELECT q.query_id, {s} AS subspace, c.code,\n"
        f"                CAST(round({fold('qv', s)} * 1000000000.0) AS BIGINT) AS pdi\n"
        "         FROM q CROSS JOIN codes c"
        for s in range(_PQ_M)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS (
        SELECT CAST(vec_id AS INT) AS code, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < {_PQ_K}
    ), scored AS (
        {assign_branches}
    ), assign AS (
        SELECT vec_id, subspace, code FROM (
            SELECT vec_id, subspace, code,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY d, code) AS rn
            FROM scored) WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_ADC_QUERIES}
    ), lut AS (
        {lut_branches}
    ), adc AS (
        SELECT l.query_id, a.vec_id, CAST(sum(l.pdi) AS BIGINT) AS adci
        FROM assign a JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
        WHERE a.vec_id <> l.query_id
        GROUP BY l.query_id, a.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id,
           round(CAST(adci AS DOUBLE) / 1000000000.0, 6) AS adc,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adci, vec_id) AS BIGINT) AS rank
    FROM adc QUALIFY rank <= {_ADC_K}
    """


@register("sim_pq_adc_topk", oracle=_adc_oracle(), tags=("similarity", "pq", "ann"))
def q_sim_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance top-5 for the first 10 vectors as queries —
    the compressed-domain ANN serving path (score = sum of per-subspace
    LUT lookups on 4-byte codes; corpus raw vectors are touched only at
    compression time). Fully oracle-checked: integer-exact ADC sums make
    ranking engine-independent."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ADC_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(emb, queries, k=_ADC_K)


# ---------------------------------------------------------------------------
# IVF-PQ: cell probing composed with ADC scoring — the full ANN stack
# ---------------------------------------------------------------------------

_IVFPQ_DIM = _PQ_M * _PQ_SUB


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = _ADC_K,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec: str = "embedding",
) -> DataFrame:
    """The composed IVF-PQ serving path: coarse-quantize the corpus into
    ``n_cells`` L2 cells (seeded centroids = raw vectors of ids
    0..n_cells-1, the `ivf_topk_seeded` convention), probe each query's
    ``nprobe`` nearest cells, and rank ONLY the candidates that fall in a
    probed cell — by PQ asymmetric distance over their 4-byte codes, never
    their raw vectors. One metric (squared L2) end to end.

    This is the billion-scale ANN architecture in relational form: the
    inverted-file step cuts candidates to ~nprobe/n_cells of the corpus,
    the PQ step scores survivors from codes. Both model tables (cells,
    codebooks) are broadcast one-row structs; cell assignment and probing
    are pure per-row projections (zero corpus shuffle); the only
    exchanges are the candidate equi-join on `cell`, the (query, vec)
    ADC partial sum, and the per-query top-k. Integer-exact ADC sums keep
    the ranking engine-independent, so the WHOLE composition carries a
    bit-exact oracle."""
    cells = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("int").alias("cell"), as_double(F.col(vec)).alias("cellv")
    )
    cells_row = cells.agg(F.collect_list(F.struct("cell", "cellv")).alias("_cells"))

    def cell_dists(vcol: str):
        return F.transform(
            "_cells",
            lambda ce: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col(vcol), ce.getField("cellv"), lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    9,
                ).alias("d"),
                ce.getField("cell").alias("cell"),
            ),
        )

    c_assign = (
        corpus.select(F.col(id_col), as_double(F.col(vec)).alias("v"))
        .crossJoin(F.broadcast(cells_row))
        .select(id_col, F.array_min(cell_dists("v")).getField("cell").alias("cell"))
    )
    qx = queries.select(
        F.col(query_id_col).alias("query_id"), as_double(F.col(vec)).alias("qv")
    )
    q_probes = (
        qx.crossJoin(F.broadcast(cells_row))
        .select(
            "query_id",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(cell_dists("qv")), 1, nprobe),
                    lambda s: s.getField("cell"),
                )
            ).alias("cell"),
        )
    )
    cand = c_assign.join(F.broadcast(q_probes), "cell").filter(
        F.col(id_col) != F.col("query_id")
    )
    codes = pq_assign(corpus, id_col=id_col, vec=vec).select(id_col, "subspace", "code")
    lut = _pq_lut(corpus, qx, id_col=id_col, vec=vec)
    adc = (
        cand.join(codes, id_col)
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("pdi").cast("long").alias("adci"))
    )
    w = Window.partitionBy("query_id").orderBy("adci", id_col)
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(F.col("adci").cast("double") / F.lit(1000000000.0), 6).alias("adc"),
            "rank",
        )
    )


def _ivfpq_oracle() -> str:
    def subfold(vname: str, s: int) -> str:
        off = s * _PQ_SUB
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> ({vname}[{off} + i] - cv[{off} + i]) * ({vname}[{off} + i] - cv[{off} + i]))), "
            "(acc, x) -> acc + x)"
        )

    def fullfold(vname: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_IVFPQ_DIM + 1}), "
            f"i -> ({vname}[i] - cellv[i]) * ({vname}[i] - cellv[i]))), "
            "(acc, x) -> acc + x)"
        )

    assign_branches = "\n        UNION ALL ".join(
        f"SELECT e.vec_id, {s} AS subspace, c.code, round({subfold('v', s)}, 9) AS d\n"
        "         FROM e CROSS JOIN codes c"
        for s in range(_PQ_M)
    )
    lut_branches = "\n        UNION ALL ".join(
        f"SELECT q.query_id, {s} AS subspace, c.code,\n"
        f"                CAST(round({subfold('qv', s)} * 1000000000.0) AS BIGINT) AS pdi\n"
        "         FROM q CROSS JOIN codes c"
        for s in range(_PQ_M)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS (
        SELECT CAST(vec_id AS INT) AS code, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < {_PQ_K}
    ), scored AS (
        {assign_branches}
    ), assign AS (
        SELECT vec_id, subspace, code FROM (
            SELECT vec_id, subspace, code,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY d, code) AS rn
            FROM scored) WHERE rn = 1
    ), cells AS (
        SELECT CAST(vec_id AS INT) AS cell, v AS cellv
        FROM e WHERE vec_id < 16
    ), fullassign AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, ce.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY round({fullfold('v')}, 9), ce.cell) AS rn
            FROM e CROSS JOIN cells ce) WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {_ADC_QUERIES}
    ), probes AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, ce.cell,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY round({fullfold('qv')}, 9), ce.cell) AS rn
            FROM q CROSS JOIN cells ce) WHERE rn <= 4
    ), lut AS (
        {lut_branches}
    ), cand AS (
        SELECT p.query_id, f.vec_id
        FROM fullassign f JOIN probes p ON f.cell = p.cell
        WHERE f.vec_id <> p.query_id
    ), adc AS (
        SELECT c.query_id, c.vec_id, CAST(sum(l.pdi) AS BIGINT) AS adci
        FROM cand c
        JOIN assign a ON a.vec_id = c.vec_id
        JOIN lut l ON l.query_id = c.query_id
                  AND l.subspace = a.subspace AND l.code = a.code
        GROUP BY c.query_id, c.vec_id
    )
    SELECT query_id, vec_id AS neighbor_id,
           round(CAST(adci AS DOUBLE) / 1000000000.0, 6) AS adc,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adci, vec_id) AS BIGINT) AS rank
    FROM adc QUALIFY rank <= {_ADC_K}
    """


@register("sim_ivfpq_topk", oracle=_ivfpq_oracle(), tags=("similarity", "ivf", "pq", "ann"))
def q_sim_ivfpq(spark, sf_dir):
    """Full IVF-PQ ANN serving: seeded L2 cells (16, nprobe=4) prune
    candidates, PQ asymmetric distance over 4-byte codes ranks them —
    the composed billion-scale architecture, bit-exact against the
    DuckDB oracle end to end (integer ADC sums; round-9 argmin/probe
    tie-break by cell id on both engines). In the query-vector metric
    the raw corpus is touched only at compression time."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ADC_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_adc_topk(emb, queries, k=_ADC_K, n_cells=16, nprobe=4)


# ---------------------------------------------------------------------------
# Compressed-domain serving completions (r8): 1-bit binary codes and int8
# scalar quantization beside PQ-ADC — the remaining rows of the embedding
# compression matrix (VERDICT r7 item 8b; public literature: sign-quantized
# codes with Hamming search are the SimHash/ITQ/RaBitQ family's storage
# format, SQ8-ADC is the FAISS `SQ8` scalar quantizer).
# ---------------------------------------------------------------------------

_BIN_DIM = 64
_BIN_QUERIES = 8
_BIN_POOL = 15  # candidate pool per query before exact re-rank


def binary_sign_codes(df: DataFrame, vec: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """1-bit-per-dimension sign quantization packed into two BIGINT words:
    bit_i = (v_i > per-vector mean), bits 0–31 in ``w0``, 32–63 in ``w1``.
    64 float32 dims (256 bytes) become 16 bytes — the storage format the
    compressed-domain Hamming scan reads.  The threshold is the vector's
    OWN mean (rounded to 1e-6 so the > comparison can't flip between
    engines on a last-ulp disagreement in the fold), making the code a
    pure per-row projection: zero shuffles, embarrassingly scan-parallel
    at any corpus size."""
    v = as_double(F.col(vec))
    thr = F.round(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.lit(float(_BIN_DIM)), 6
    )
    d = df.select(F.col(id_col), v.alias("v"), thr.alias("thr"))

    # r14: the two 32-term when-chains are built as ONE parsed expression
    # string each (identical CASE tree — Spark `v[i]` is 0-based where the
    # DuckDB oracle's list index is 1-based) instead of ~256 py4j Column
    # round trips per query build (the r13 `stats_bootstrap_ci` device).
    def word(lo: int) -> F.Column:
        terms = " + ".join(
            f"(CASE WHEN v[{i}] > thr THEN CAST({1 << (i - lo)} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for i in range(lo, lo + 32)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")

    return d.select(id_col, "v", word(0).alias("w0"), word(32).alias("w1"))


def binary_hamming_topk(
    corpus: DataFrame,
    k: int = 5,
    pool: int = _BIN_POOL,
    n_queries: int = _BIN_QUERIES,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Symmetric compressed-domain ANN: rank candidates by the Hamming
    distance between PACKED sign codes — two 64-bit XOR+popcounts per
    pair instead of a 64-float fold (the integer ops FAISS/ScaNN run over
    binary codes) — then exact-cosine re-rank only the ``pool`` best.

    The scale story is IO + compute: the candidate scan touches 16 bytes
    per corpus vector (16× less than float32) and the exact fold runs on
    ``pool/|corpus|`` of the rows.  Candidate generation here is a full
    scan against a bounded broadcast query panel (the serving shape); at
    100 TB compose with the IVF cell join exactly as `sim_ivfpq_topk`
    does — the Hamming ranker only changes the per-candidate estimator.
    Fully deterministic (integer Hamming, fixed fold order, id
    tie-breaks) → full DuckDB oracle."""
    coded = binary_sign_codes(corpus, vec=vec, id_col=id_col)
    coded = coded.withColumn("_n", norm(F.col("v"))).select(
        id_col,
        F.transform("v", lambda x: x / F.col("_n")).alias("nv"),
        "w0",
        "w1",
    )
    q = coded.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("nv").alias("qnv"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    cand = (
        coded.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "ham",
            (
                F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
                + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
            ).cast("long"),
        )
    )
    wpool = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("neighbor_id"))
    pooled = cand.withColumn("crn", F.row_number().over(wpool)).filter(
        F.col("crn") <= pool
    )
    rr = pooled.withColumn("cos", dot(F.col("qnv"), F.col("nv")))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "ham", F.round("cos", 6).alias("cos"), "rank")
    )


def _binary_coded_cte() -> str:
    """CTE body corpus → per-vector-mean sign codes (``coded``: vec_id, nv,
    w0, w1) — shared by the full-scan serve, the recall audits, and the
    IVF-composed / relation-side serves."""
    w0 = " + ".join(
        f"CASE WHEN v[{i + 1}] > thr THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(32)
    )
    w1 = " + ".join(
        f"CASE WHEN v[{i + 33}] > thr THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(32)
    )
    return f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v, round(list_sum(v) / {float(_BIN_DIM)}, 6) AS thr FROM e),
    coded AS (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
               CAST({w0} AS BIGINT) AS w0, CAST({w1} AS BIGINT) AS w1
        FROM m
    )"""


def _binary_cte() -> str:
    """Shared CTE body (corpus → sign codes → query panel → Hamming-pooled
    candidates) used by both the serve oracle and the recall audit."""
    return f"""{_binary_coded_cte()},
    q AS (SELECT vec_id AS query_id, nv AS qnv, w0 AS qw0, w1 AS qw1
          FROM coded WHERE vec_id < {_BIN_QUERIES}),
    cand AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, q.qnv, c.nv,
               bit_count(xor(q.qw0, c.w0)) + bit_count(xor(q.qw1, c.w1)) AS ham,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY bit_count(xor(q.qw0, c.w0)) + bit_count(xor(q.qw1, c.w1)),
                            c.vec_id) AS crn
        FROM q JOIN coded c ON c.vec_id <> q.query_id
    )"""


def _binary_oracle() -> str:
    return f"""
    WITH {_binary_cte()}
    SELECT query_id, neighbor_id, CAST(ham AS BIGINT) AS ham,
           round(list_dot_product(qnv, nv), 6) AS cos,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(qnv, nv), 9) DESC, neighbor_id)
             AS BIGINT) AS rank
    FROM cand WHERE crn <= {_BIN_POOL}
    QUALIFY rank <= 5
    """


@register(
    "sim_binary_code_topk",
    oracle=_binary_oracle(),
    tags=("similarity", "ann", "quantization", "binary"),
)
def q_sim_binary_code_topk(spark, sf_dir):
    """Top-5 ANN through 1-bit sign codes: candidates ranked by packed
    64-bit XOR+popcount Hamming (16 bytes/vector touched instead of 256),
    exact cosine re-rank of the 15-candidate pool.  Completes the
    compression matrix's binary row beside `sim_pq_adc_topk` (4-byte PQ)
    and `sim_sq8_adc_topk` (64-byte SQ8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return binary_hamming_topk(emb, k=5)


_SQ8_QUERIES = 8
_SQ8_POOL = 15


def sq8_adc_topk(
    corpus: DataFrame,
    k: int = 5,
    pool: int = _SQ8_POOL,
    n_queries: int = _SQ8_QUERIES,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Asymmetric scalar-quantized serving (FAISS SQ8 shape): the corpus
    is stored as per-vector affine uint8 codes (same `floor(+0.5)`
    convention as `embedding_int8_quantize`); queries stay full-precision
    and candidates are ranked by the DEQUANTIZED dot product
    Σ qᵢ·(mn + codeᵢ·scale) — the asymmetric distance computation — then
    the top ``pool`` are re-ranked by exact cosine over the original
    vectors.  Storage is 64 bytes + 2 doubles per vector (4× smaller than
    float32); constant vectors (scale 0) keep code 0 and dequantize to
    ``mn`` exactly.  Deterministic end-to-end (integer codes, fixed fold
    order, rounded comparisons, id tie-breaks) → full DuckDB oracle.

    r9: the estimate is computed in DECOMPOSED form
    ``mn·Σqᵢ + scale·(q·code)`` — algebraically the dequantized dot, but
    Σqᵢ hoists to ONE per-query column and the per-candidate work drops
    from build-64-array-then-fold to a single zip-fold plus two
    multiplies (~40% less per candidate; the oracle mirrors the same
    op order so parity is unchanged)."""
    v = as_double(F.col(vec))
    base = corpus.select(
        F.col(id_col),
        v.alias("v"),
        F.array_min(v).alias("mn"),
        ((F.array_max(v) - F.array_min(v)) / 255.0).alias("scale"),
    )
    coded = base.withColumn(
        "qv",
        F.when(
            F.col("scale") > 0,
            F.transform(
                "v", lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5)
            ),
        ).otherwise(F.transform("v", lambda x: F.lit(0).cast("bigint"))),
    )
    coded = coded.withColumn("_n", norm(F.col("v"))).select(
        id_col,
        F.transform("v", lambda x: x / F.col("_n")).alias("nv"),
        "mn",
        "scale",
        "qv",
    )
    q = coded.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("nv").alias("qnv"),
        F.aggregate("nv", F.lit(0.0), lambda a, x: a + x).alias("qsum"),
    )
    # ADC estimate against the dequantized code; the query side is the
    # normalized vector so the estimate approximates cosine directly.
    cand = (
        coded.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "est",
            F.col("mn") * F.col("qsum") + F.col("scale") * dot(F.col("qnv"), F.col("qv")),
        )
    )
    wpool = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("est", 9)), F.asc("neighbor_id")
    )
    pooled = cand.withColumn("crn", F.row_number().over(wpool)).filter(
        F.col("crn") <= pool
    )
    rr = pooled.withColumn("cos", dot(F.col("qnv"), F.col("nv")))
    wr = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("est", 6).alias("est_dot"),
            F.round("cos", 6).alias("cos"),
            "rank",
        )
    )


def _sq8_coded_cte() -> str:
    """CTE body corpus → affine uint8 codes (``coded``: vec_id, nv, mn,
    scale, qv) — shared by the full-scan SQ8 serve and its relation-side
    IVF-composed twin."""
    return """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v, list_min(v) AS mn,
                 (list_max(v) - list_min(v)) / 255.0 AS scale
          FROM e),
    coded AS (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
               mn, scale,
               CASE WHEN scale > 0
                    THEN list_transform(v, x -> floor((x - mn) / scale + 0.5))
                    ELSE list_transform(v, x -> 0.0) END AS qv
        FROM s
    )"""


_SQ8_ORACLE = f"""
    WITH {_sq8_coded_cte()},
    q AS (SELECT vec_id AS query_id, nv AS qnv,
                 list_reduce(list_prepend(CAST(0.0 AS DOUBLE), nv),
                             (a, e) -> a + e) AS qsum
          FROM coded WHERE vec_id < {_SQ8_QUERIES}),
    cand AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, q.qnv, c.nv,
               c.mn * q.qsum + c.scale * list_dot_product(q.qnv, c.qv) AS est,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(c.mn * q.qsum
                                  + c.scale * list_dot_product(q.qnv, c.qv), 9) DESC,
                            c.vec_id) AS crn
        FROM q JOIN coded c ON c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, round(est, 6) AS est_dot,
           round(list_dot_product(qnv, nv), 6) AS cos,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(qnv, nv), 9) DESC, neighbor_id)
             AS BIGINT) AS rank
    FROM cand WHERE crn <= {_SQ8_POOL}
    QUALIFY rank <= 5
    """


@register(
    "sim_sq8_adc_topk",
    oracle=_SQ8_ORACLE,
    tags=("similarity", "ann", "quantization", "sq8"),
)
def q_sim_sq8_adc_topk(spark, sf_dir):
    """Top-5 ANN through int8 scalar-quantized codes with asymmetric
    (full-precision query vs dequantized corpus) candidate ranking and
    exact re-rank — the SQ8 row of the compression matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_adc_topk(emb, k=5)


def _recall_audit_oracle() -> str:
    return f"""
    WITH {_binary_cte()},
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round(list_dot_product(qnv, nv), 9) DESC,
                                neighbor_id) AS rank
            FROM cand WHERE crn <= {_BIN_POOL})
        WHERE rank <= 5
    ),
    exact AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qnv, c.nv), 9) DESC,
                                c.vec_id) AS rank
            FROM q JOIN coded c ON c.vec_id <> q.query_id)
        WHERE rank <= 5
    )
    SELECT x.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           floor(count(a.neighbor_id) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS recall,
           floor(sum(CASE WHEN a.neighbor_id IS NOT NULL
                          THEN 1.0 / log2(x.rank + 1) ELSE 0.0 END)
                 / sum(1.0 / log2(x.rank + 1)) * 1000000 + 0.5) / 1000000 AS ndcg
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


@register(
    "sim_recall_audit",
    oracle=_recall_audit_oracle(),
    tags=("similarity", "ann", "eval", "audit"),
)
def q_sim_recall_audit(spark, sf_dir):
    """Retrieval-quality audit of the compressed-domain stack: per query,
    recall@5 and binary-relevance nDCG@5 of the 1-bit Hamming serving
    path against exact brute-force cosine ground truth — the eval every
    production ANN deployment runs before swapping a cheaper index in.
    nDCG weights each exact neighbor by 1/log2(rank+1), so losing the
    TOP exact neighbor costs more than losing the 5th — the rank-aware
    signal plain recall hides.

    Both halves are existing deterministic serving paths (the GEMM exact
    ranker and `binary_hamming_topk`), so the audit itself carries a full
    DuckDB oracle — the ground-truth join is per-(query, neighbor), one
    broadcast-sized relation each side.  At 100 TB this runs on a SAMPLE
    of queries by construction (the panel is bounded); corpus size only
    enters through the two serving paths' own scale shapes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _BIN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = binary_hamming_topk(emb, k=5).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    w = F.lit(1.0) / F.log2(F.col("rank") + F.lit(1))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.groupBy("query_id").agg(
        F.count("*").cast("long").alias("k"),
        F.count("_hit").cast("long").alias("n_hit"),
        canon(F.count("_hit") / F.count("*")).alias("recall"),
        canon(
            F.sum(F.when(F.col("_hit").isNotNull(), w).otherwise(F.lit(0.0)))
            / F.sum(w)
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Compressed codes INSIDE the IVF cell join, relation-side (r9, VERDICT r8
# items 3+5): the shape a 100 TB retrieval stack actually runs — coarse
# cells prune candidates, compressed codes (1-bit Hamming / SQ8 ADC) rank
# them, exact cosine re-ranks the pool — with the query side a full
# RELATION (shuffle-hash-joined on the cell key, never collected or
# broadcast), completing the compression matrix's relation row beside
# `sim_topk_relation` (float) and `sim_ivfpq_topk` (PQ, panel).
# ---------------------------------------------------------------------------


def _exploding_cell_join(
    c_cells: DataFrame,
    q_cells: DataFrame,
    n_cells: int,
    query_key: str = "query_id",
    cell_key: str = "cell",
) -> DataFrame:
    """Cell-keyed candidate join at FULL parallelism (r13 optimization,
    guide §2.5 "synthetic partitioning keys with too few distinct values"
    + §3.3 exploding joins).

    The relation serves join two SMALL keyed inputs whose join output
    EXPLODES (~N·nprobe·N/K candidate rows); AQE sizes the post-shuffle
    partition count from the tiny MAP bytes, so at harness scale it
    coalesced the join to ONE partition and every downstream per-candidate
    fold ran single-threaded (measured: the PQ ADC stage 14.5 s → 3.4 s
    once spread).  Two moves, both result-preserving:

    - an EXPLICIT-count ``repartition(P, keys)`` on both sides — a
      user-specified repartition is not AQE-coalescible, so the join (and
      the per-candidate scoring stage above it) keeps P-way parallelism
      regardless of map bytes; P = SHUFFLE_PARTITIONS (env-overridable —
      the session's documented deployment knob, not a local constant);
    - a DETERMINISTIC salt on the cell key when K supplies too few
      distinct values to fill P partitions (K < 20·P, the guide's
      spread rule): the query side computes ``pmod(xxhash64(query_id),
      salt_n)`` (deterministic per row — safe under task retry,
      SPARK-38388), the corpus side replicates each row ``salt_n`` ways.
      Every (query, neighbor) pair still meets exactly once — the query
      row carries ONE salt value and exactly one corpus replica matches
      it — so the candidate set is unchanged.  ``salt_n`` derives from
      K and P and collapses to 1 once K ≥ 20·P (auto-K grows with the
      corpus, so production-scale serves pay no replication).
    """
    p = SHUFFLE_PARTITIONS
    salt_n = max(1, min(4 * p, (20 * p) // max(n_cells, 1)))
    if salt_n > 1:
        q_cells = q_cells.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(query_key)), F.lit(salt_n)).cast("int")
        )
        c_cells = c_cells.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
        )
        keys = [cell_key, "_salt"]
    else:
        keys = [cell_key]
    return (
        c_cells.repartition(p, *[F.col(k) for k in keys])
        .join(
            q_cells.repartition(p, *[F.col(k) for k in keys]).hint("shuffle_hash"),
            keys,
        )
        .drop("_salt")
    )


def _relation_cell_candidates(
    c_coded: DataFrame,
    q_coded: DataFrame,
    n_cells: int,
    nprobe: int,
    exclude_self: bool = True,
    query_id: str = "query_id",
    c_drop: tuple[str, ...] = (),
    q_drop: tuple[str, ...] = (),
) -> DataFrame:
    """Shared candidate generation for relation-side compressed serves.

    ``c_coded`` carries ``neighbor_id`` + unit-normalized ``nv`` + any code
    payload; ``q_coded`` carries ``query_id`` + ``qnv`` + payload.  Seeded
    cosine cells (cell j = normalized corpus vector j, the
    `ivf_topk_seeded` convention), corpus assignment and query probing are
    per-row projections against the broadcast K-row centroid model, and
    the candidate join is a pinned SHUFFLE hash join on ``cell`` — the
    only exchanges are the two cell-keyed ones, so 10 queries and 10
    million take the same plan.  Each corpus row lives in exactly one
    cell, so a (query, neighbor) pair appears at most once even with
    nprobe > 1.  Same ``exclude_self`` contract as `ivf_topk_relation`.

    r13 (guide §2.3): ``c_drop``/``q_drop`` name columns the CALLER's
    pooling stage doesn't read (typically the unit-normalized re-rank
    arrays) — assignment/probing still read them, but they are projected
    away BEFORE the cell join so neither exchange nor the candidate rows
    carry them; the caller joins them back for its pooled survivors."""
    cents = c_coded.filter(F.col("neighbor_id") < n_cells).select(
        F.col("neighbor_id").cast("int").alias("cell"), F.col("nv").alias("c_nvec")
    )
    c_cells = ivf_assign(c_coded, cents, "nv", ["neighbor_id"]).drop(*c_drop)
    q_cells = (
        q_coded.crossJoin(F.broadcast(_centroid_row(cents)))
        .withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(_nearest_cells("qnv")), 1, nprobe),
                    lambda s: s.getField("cell"),
                )
            ),
        )
        .drop("_cents")
        .drop(*q_drop)
    )
    cand = _exploding_cell_join(c_cells, q_cells, n_cells, query_id)
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col(query_id))
    return cand


def ivf_binary_topk_relation(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    pool: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Binary-inside-IVF serving with a RELATION query side: candidates
    cell-pruned by the seeded IVF probe, ranked by the 2-word
    XOR+popcount Hamming estimator over packed sign codes (16 bytes read
    per candidate instead of 256), exact cosine re-rank of the ``pool``
    best — the composition `binary_hamming_topk`'s docstring promises,
    mirroring `sim_ivfpq_topk`'s PQ analogue.

    Scale shape: sign-coding and normalization are per-row projections;
    the centroid model is the only broadcast; the candidate join
    shuffles both sides once on ``cell`` (~nprobe/n_cells of the cross
    product); Hamming pooling and the exact re-rank are windows over the
    ``query_id`` exchange touching only in-cell candidates.  Fully
    deterministic (integer Hamming, rounded folds, id tie-breaks) →
    full DuckDB oracle."""
    c = binary_sign_codes(corpus, vec=vec, id_col=id_col)
    c = c.withColumn("_n", norm(F.col("v"))).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform("v", lambda x: x / F.col("_n")).alias("nv"),
        "w0",
        "w1",
    )
    qd = binary_sign_codes(
        queries.select(F.col(query_id), F.col(vec)), vec=vec, id_col=query_id
    )
    qd = qd.withColumn("_n", norm(F.col("v"))).select(
        query_id,
        F.transform("v", lambda x: x / F.col("_n")).alias("qnv"),
        F.col("w0").alias("qw0"),
        F.col("w1").alias("qw1"),
    )
    # r13 (guide §2.3/§8): Hamming pooling reads only the packed words —
    # BOTH unit-normalized arrays are dropped before the cell join and
    # joined back onto the pooled survivors (identical normalization
    # folds; ranked values unchanged).  The candidate path is ids+2 words
    # per row where it carried two 64-double arrays.
    cand = _relation_cell_candidates(
        c, qd, n_cells, nprobe, exclude_self, query_id,
        c_drop=("nv",), q_drop=("qnv",),
    )
    cand = cand.withColumn(
        "ham",
        (
            F.bit_count(F.col("qw0").bitwiseXOR(F.col("w0")))
            + F.bit_count(F.col("qw1").bitwiseXOR(F.col("w1")))
        ).cast("long"),
    )
    wpool = Window.partitionBy(query_id).orderBy(F.asc("ham"), F.asc("neighbor_id"))
    pooled = (
        cand.select(query_id, "neighbor_id", "ham")
        .withColumn("crn", F.row_number().over(wpool))
        .filter(F.col("crn") <= pool)
    )
    vexp = as_double(F.col(vec))
    cnv = corpus.select(F.col(id_col).alias("neighbor_id"), vexp.alias("v"))
    cnv = cnv.withColumn("_n", norm(F.col("v"))).select(
        "neighbor_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    qnv_rel = queries.select(F.col(query_id), vexp.alias("v"))
    qnv_rel = qnv_rel.withColumn("_n", norm(F.col("v"))).select(
        query_id, F.transform("v", lambda x: x / F.col("_n")).alias("qnv")
    )
    rr = (
        pooled.join(cnv, "neighbor_id")
        .join(qnv_rel, query_id)
        .withColumn("cos", dot(F.col("qnv"), F.col("nv")))
    )
    wr = Window.partitionBy(query_id).orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", "ham", F.round("cos", 6).alias("cos"), "rank")
    )


def sq8_topk_relation(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    pool: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """SQ8-inside-IVF serving with a RELATION query side: cell-pruned
    candidates ranked by the asymmetric dequantized dot product (full-
    precision normalized query × per-vector affine uint8 corpus codes,
    the FAISS SQ8 shape), exact cosine re-rank of the pool.  Same plan
    skeleton as `ivf_binary_topk_relation` — centroid model broadcast,
    shuffle-hash cell join, no query collect/broadcast anywhere."""
    v = as_double(F.col(vec))
    base = corpus.select(
        F.col(id_col),
        v.alias("v"),
        F.array_min(v).alias("mn"),
        ((F.array_max(v) - F.array_min(v)) / 255.0).alias("scale"),
    )
    coded = base.withColumn(
        "qv",
        F.when(
            F.col("scale") > 0,
            F.transform(
                "v", lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5)
            ),
        ).otherwise(F.transform("v", lambda x: F.lit(0).cast("bigint"))),
    )
    c = coded.withColumn("_n", norm(F.col("v"))).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform("v", lambda x: x / F.col("_n")).alias("nv"),
        "mn",
        "scale",
        "qv",
    )
    qv = as_double(F.col(vec))
    qd = queries.select(F.col(query_id), qv.alias("v"))
    qd = (
        qd.withColumn("_n", norm(F.col("v")))
        .select(query_id, F.transform("v", lambda x: x / F.col("_n")).alias("qnv"))
        .withColumn("qsum", F.aggregate("qnv", F.lit(0.0), lambda a, x: a + x))
    )
    # r13 (guide §2.3/§8): the corpus-side re-rank array is dropped before
    # the cell join (the estimator reads only mn/scale/codes/qnv), the
    # pool ranks a narrow (ids, est) projection, and both arrays join
    # back onto the pooled survivors via the identical normalization
    # folds — ranked values unchanged, the pool sort/exchange ~40× lighter.
    cand = _relation_cell_candidates(
        c, qd, n_cells, nprobe, exclude_self, query_id, c_drop=("nv",)
    )
    # decomposed ADC (see sq8_adc_topk): mn·Σq hoists to one per-query
    # column, leaving a single zip-fold per candidate.
    cand = cand.withColumn(
        "est",
        F.col("mn") * F.col("qsum") + F.col("scale") * dot(F.col("qnv"), F.col("qv")),
    )
    wpool = Window.partitionBy(query_id).orderBy(
        F.desc(F.round("est", 9)), F.asc("neighbor_id")
    )
    pooled = (
        cand.select(query_id, "neighbor_id", "est")
        .withColumn("crn", F.row_number().over(wpool))
        .filter(F.col("crn") <= pool)
    )
    cnv = corpus.select(F.col(id_col).alias("neighbor_id"), v.alias("v"))
    cnv = cnv.withColumn("_n", norm(F.col("v"))).select(
        "neighbor_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    rr = (
        pooled.join(cnv, "neighbor_id")
        .join(qd.select(query_id, "qnv"), query_id)
        .withColumn("cos", dot(F.col("qnv"), F.col("nv")))
    )
    wr = Window.partitionBy(query_id).orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            query_id,
            "neighbor_id",
            F.round("est", 6).alias("est_dot"),
            F.round("cos", 6).alias("cos"),
            "rank",
        )
    )


def _seeded_cells_sql(
    corpus_extra: str, query_extra: str, nprobe: int, n_cells: int | str = 16
) -> str:
    """cents/assign/probes CTE triplet over a ``coded`` CTE carrying
    (vec_id, nv, …payload): seeded cosine cells, round-9 argmin with the
    lowest-cell tie-break — the `_TOPK_RELATION_ORACLE` arithmetic
    parameterized by payload columns.  ``corpus_extra``/``query_extra``
    are ``(outer_select, inner_select)`` pairs encoded as one string each
    with a ``|`` separator."""
    c_out, c_in = corpus_extra.split("|")
    q_out, q_in = query_extra.split("|")
    return f"""
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM coded WHERE vec_id < {n_cells}),
    assign AS (
        SELECT vec_id, nv{c_out}, cell FROM (
            SELECT c.vec_id, c.nv{c_in}, ce.cell,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY round(-list_dot_product(c.nv, ce.c_nvec), 9), ce.cell
                   ) AS rn
            FROM coded c CROSS JOIN cents ce) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qnv{q_out}, cell FROM (
            SELECT c.vec_id AS query_id, c.nv AS qnv{q_in}, ce.cell,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY round(-list_dot_product(c.nv, ce.c_nvec), 9), ce.cell
                   ) AS rn
            FROM coded c CROSS JOIN cents ce) WHERE rn <= {nprobe}
    )"""


def _ivf_binary_relation_oracle(nprobe: int = 2, pool: int = 10, k: int = 3) -> str:
    cells = _seeded_cells_sql(
        ", w0, w1|, c.w0, c.w1", ", qw0, qw1|, c.w0 AS qw0, c.w1 AS qw1", nprobe,
        n_cells=_AUTO_CELLS_SQL,
    )
    return f"""
    WITH {_binary_coded_cte()},
    {cells},
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.qnv, a.nv,
               bit_count(xor(p.qw0, a.w0)) + bit_count(xor(p.qw1, a.w1)) AS ham,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY bit_count(xor(p.qw0, a.w0)) + bit_count(xor(p.qw1, a.w1)),
                            a.vec_id) AS crn
        FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, CAST(ham AS BIGINT) AS ham,
           round(list_dot_product(qnv, nv), 6) AS cos,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(qnv, nv), 9) DESC, neighbor_id)
             AS BIGINT) AS rank
    FROM cand WHERE crn <= {pool}
    QUALIFY rank <= {k}
    """


@register(
    "sim_ivf_binary_topk",
    oracle=_ivf_binary_relation_oracle(),
    tags=("similarity", "ivf", "ann", "binary", "relation"),
)
def q_sim_ivf_binary_topk(spark, sf_dir):
    """The composed compressed serve at relation scale: EVERY embedding
    row is a query; its 2 probed IVF cells bound the candidates, packed
    1-bit Hamming ranks them (16 bytes/candidate), exact cosine re-ranks
    the 10-candidate pool to top-3.  This is the binary analogue of
    `sim_ivfpq_topk` with `sim_topk_relation`'s no-collect/no-query-
    broadcast plan — the shape a 100 TB retrieval stack actually runs.
    r12: the quantizer auto-sizes (K = ⌈N/125⌉, `auto_cells`) so candidate
    volume stays linear in the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_binary_topk_relation(
        emb, queries, k=3, n_cells=auto_cells(emb), nprobe=2, pool=10
    )


def _sq8_relation_oracle(nprobe: int = 2, pool: int = 10, k: int = 3) -> str:
    qsum = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), c.nv), (a, e) -> a + e)"
    )
    cells = _seeded_cells_sql(
        ", mn, scale, qv|, c.mn, c.scale, c.qv",
        f", qsum|, {qsum} AS qsum",
        nprobe,
        n_cells=_AUTO_CELLS_SQL,
    )
    est = "a.mn * p.qsum + a.scale * list_dot_product(p.qnv, a.qv)"
    return f"""
    WITH {_sq8_coded_cte()},
    {cells},
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.qnv, a.nv,
               {est} AS est,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round({est}, 9) DESC, a.vec_id) AS crn
        FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(est, 6) AS est_dot,
           round(list_dot_product(qnv, nv), 6) AS cos,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(qnv, nv), 9) DESC, neighbor_id)
             AS BIGINT) AS rank
    FROM cand WHERE crn <= {pool}
    QUALIFY rank <= {k}
    """


@register(
    "sim_sq8_relation_topk",
    oracle=_sq8_relation_oracle(),
    tags=("similarity", "ivf", "ann", "sq8", "relation"),
)
def q_sim_sq8_relation_topk(spark, sf_dir):
    """SQ8-inside-IVF at relation scale: every embedding row is a query,
    candidates cell-pruned (nprobe=2/16), ranked by the asymmetric
    dequantized dot over uint8 codes, exact re-rank of the 10-pool to
    top-3 — the relation twin of `sim_sq8_adc_topk`, completing the
    compression matrix's relation row (float / 1-bit / SQ8 / PQ).
    r12: the quantizer auto-sizes (K = ⌈N/125⌉, `auto_cells`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return sq8_topk_relation(
        emb, queries, k=3, n_cells=auto_cells(emb), nprobe=2, pool=10
    )


def pq_topk_relation(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    pool: int = 10,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """PQ-inside-IVF serving with a RELATION query side — the last cell of
    the compression matrix's relation row (float `ivf_topk_relation`,
    1-bit `ivf_binary_topk_relation`, SQ8 `sq8_topk_relation`, PQ here):
    candidates cell-pruned by the seeded cosine probe, ranked by integer-
    exact PQ asymmetric distance over their 4-byte codes, exact cosine
    re-rank of the ``pool`` best.

    Unlike the panel-sized `pq_adc_topk`, NO per-query LUT relation is
    built (a LUT is |Q|*m*k rows — fine for 10 queries, not for a
    relation-scale query side): the 16x4 codebook collapses to ONE
    broadcast row and each candidate computes its m block distances
    directly against the query's raw sub-vectors carried through the cell
    join.  Plan shape matches the relation siblings exactly — centroid
    model + codebook row are the only broadcasts, the candidate join is a
    pinned shuffle-hash join on ``cell``, pooling/re-rank are windows on
    the ``query_id`` exchange.  Each block distance is the `pq_assign`
    fixed-order fold scaled to BIGINT (round(d*1e9)), so the 4-term ADC
    sum is exact integer arithmetic on both engines.

    One HOF projection per block (four sibling ``withColumn`` steps, not
    one combined expression) — see `pq_assign`'s note on the Spark 4.1
    copied-nested-lambda miscompile.

    r13 optimization (guide §2.3 "project before the exchange", §8
    "lightweight proxy"): the candidate path carries ONLY what ADC
    pooling needs (ids, codes, the query's raw sub-vectors) — the two
    unit-normalized 64-double arrays the exact re-rank reads are DROPPED
    before the cell join and joined back for the ≤|Q|·pool pooled rows
    only.  Before, both arrays rode every candidate row through the pool
    window's sort + exchange (~1 KB/row over the full candidate volume);
    now that sort/exchange is ids+ADC-only and the arrays move once,
    attached to the pooled survivors (ranked values unchanged — the
    join-back recomputes the identical normalization folds)."""
    v = as_double(F.col(vec))
    codes_model = (
        corpus.filter(F.col(id_col) < _PQ_K)
        .select(F.col(id_col).cast("int").alias("code"), v.alias("cv"))
        .agg(F.collect_list(F.struct("code", "cv")).alias("_codes"))
    )
    # Per-row code assignment against the broadcast codebook — NO explode /
    # groupBy / join (pq_assign's (vec, subspace) relation costs two extra
    # shuffles the serve doesn't need; values are identical, pinned by
    # test_pq_relation_adc_matches_numpy).  One HOF projection per
    # subspace — see pq_assign's Spark 4.1 copied-nested-lambda note.
    base = corpus.select(F.col(id_col), v.alias("v")).crossJoin(
        F.broadcast(codes_model)
    )
    for s in range(_PQ_M):
        start = s * _PQ_SUB + 1

        def block_d(cd, start=start):
            return F.aggregate(
                F.zip_with(
                    F.slice(F.col("v"), start, _PQ_SUB),
                    F.slice(cd.getField("cv"), start, _PQ_SUB),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        best = F.array_min(
            F.transform(
                "_codes",
                lambda cd: F.struct(
                    F.round(block_d(cd), 9).alias("d"),
                    cd.getField("code").alias("code"),
                ),
            )
        )
        base = base.withColumn(f"_c{s}", best.getField("code"))
    c = base.withColumn("_n", norm(F.col("v"))).select(
        F.col(id_col).alias("neighbor_id"),
        F.transform("v", lambda x: x / F.col("_n")).alias("nv"),
        F.array(*[F.col(f"_c{s}") for s in range(_PQ_M)]).alias("codes"),
    )
    qd = queries.select(F.col(query_id), as_double(F.col(vec)).alias("qv"))
    qd = qd.withColumn("_n", norm(F.col("qv"))).select(
        query_id, "qv", F.transform("qv", lambda x: x / F.col("_n")).alias("qnv")
    )
    # r13: assignment/probing read nv/qnv, but the candidate join and the
    # ADC pool don't — drop both arrays before the cell join (the query's
    # raw ``qv`` must stay: ADC scores against it) and join them back for
    # the pooled survivors only.
    cand = _relation_cell_candidates(
        c, qd, n_cells, nprobe, exclude_self, query_id,
        c_drop=("nv",), q_drop=("qnv",),
    )
    cb_row = (
        corpus.filter(F.col(id_col) < _PQ_K)
        .select(F.col(id_col).cast("int").alias("code"), v.alias("cv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "cv"))),
                lambda s: s.getField("cv"),
            ).alias("_cb")
        )
    )
    cand = cand.crossJoin(F.broadcast(cb_row))
    for s in range(_PQ_M):
        d = F.aggregate(
            F.zip_with(
                F.slice(F.col("qv"), s * _PQ_SUB + 1, _PQ_SUB),
                F.slice(
                    F.get(F.col("_cb"), F.element_at(F.col("codes"), s + 1)),
                    s * _PQ_SUB + 1,
                    _PQ_SUB,
                ),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cand = cand.withColumn(
            f"_pdi{s}", F.round(d * F.lit(1000000000.0)).cast("long")
        )
    cand = cand.withColumn(
        "adci", sum(F.col(f"_pdi{s}") for s in range(1, _PQ_M)) + F.col("_pdi0")
    )
    wpool = Window.partitionBy(query_id).orderBy(F.asc("adci"), F.asc("neighbor_id"))
    pooled = (
        cand.select(query_id, "neighbor_id", "adci")
        .withColumn("crn", F.row_number().over(wpool))
        .filter(F.col("crn") <= pool)
    )
    # join the re-rank arrays back onto the ≤|Q|·pool survivors — a fresh
    # scan→normalize projection with the IDENTICAL folds (no codebook
    # subtree), so the ranked values are unchanged
    cnv = corpus.select(F.col(id_col).alias("neighbor_id"), v.alias("v"))
    cnv = cnv.withColumn("_n", norm(F.col("v"))).select(
        "neighbor_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    rr = (
        pooled.join(cnv, "neighbor_id")
        .join(qd.select(query_id, "qnv"), query_id)
        .withColumn("cos", dot(F.col("qnv"), F.col("nv")))
    )
    wr = Window.partitionBy(query_id).orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            query_id,
            "neighbor_id",
            F.round(F.col("adci").cast("double") / F.lit(1000000000.0), 6).alias(
                "adc"
            ),
            F.round("cos", 6).alias("cos"),
            "rank",
        )
    )


def _pq_relation_oracle(nprobe: int = 2, pool: int = 10, k: int = 3) -> str:
    def fold(s: int) -> str:
        off = s * _PQ_SUB
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> (p.qv[{off} + i] - cbl[a.codes[{s + 1}] + 1][{off} + i]) "
            f"* (p.qv[{off} + i] - cbl[a.codes[{s + 1}] + 1][{off} + i]))), "
            "(acc, x) -> acc + x)"
        )

    def pfold(s: int) -> str:
        off = s * _PQ_SUB
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {_PQ_SUB + 1}), "
            f"i -> (e.v[{off} + i] - c.cv[{off} + i]) * (e.v[{off} + i] - c.cv[{off} + i]))), "
            "(acc, x) -> acc + x)"
        )

    assign_branches = "\n        UNION ALL ".join(
        f"SELECT e.vec_id, {s} AS subspace, c.code, round({pfold(s)}, 9) AS d\n"
        "         FROM e CROSS JOIN codesrc c"
        for s in range(_PQ_M)
    )
    adci = " + ".join(
        f"CAST(round({fold(s)} * 1000000000.0) AS BIGINT)" for s in range(_PQ_M)
    )
    cells = _seeded_cells_sql(
        ", codes|, c.codes", ", qv|, c.v AS qv", nprobe, n_cells=_AUTO_CELLS_SQL
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codesrc AS (
        SELECT CAST(vec_id AS INT) AS code, v AS cv FROM e WHERE vec_id < {_PQ_K}
    ), scored AS (
        {assign_branches}
    ), pqa AS (
        SELECT vec_id, subspace, code FROM (
            SELECT vec_id, subspace, code,
                   row_number() OVER (PARTITION BY vec_id, subspace
                                      ORDER BY d, code) AS rn
            FROM scored) WHERE rn = 1
    ), pqc AS MATERIALIZED (
        SELECT vec_id, list(code ORDER BY subspace) AS codes FROM pqa GROUP BY vec_id
    ), coded AS MATERIALIZED (
        SELECT e.vec_id, e.v,
               list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))) AS nv,
               pqc.codes
        FROM e JOIN pqc USING (vec_id)
    ),
    {cells},
    cb AS (SELECT list(v ORDER BY vec_id) AS cbl FROM e WHERE vec_id < {_PQ_K}),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.qnv, a.nv,
               ({adci}) AS adci,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY ({adci}), a.vec_id) AS crn
        FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
        CROSS JOIN cb
    )
    SELECT query_id, neighbor_id,
           round(CAST(adci AS DOUBLE) / 1000000000.0, 6) AS adc,
           round(list_dot_product(qnv, nv), 6) AS cos,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_dot_product(qnv, nv), 9) DESC, neighbor_id)
             AS BIGINT) AS rank
    FROM cand WHERE crn <= {pool}
    QUALIFY rank <= {k}
    """


@register(
    "sim_pq_relation_topk",
    oracle=_pq_relation_oracle(),
    tags=("similarity", "ivf", "ann", "pq", "relation"),
)
def q_sim_pq_relation_topk(spark, sf_dir):
    """PQ-inside-IVF at relation scale: every embedding row is a query,
    candidates cell-pruned (nprobe=2/16), ranked by integer-exact PQ
    asymmetric distance over 4-byte codes WITHOUT a per-query LUT
    relation (codebook = one broadcast row), exact cosine re-rank of the
    10-pool to top-3 — completing the compression matrix's relation row
    (float / 1-bit / SQ8 / PQ all serve relation query sides).
    r12: the quantizer auto-sizes (K = ⌈N/125⌉, `auto_cells`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return pq_topk_relation(
        emb, queries, k=3, n_cells=auto_cells(emb), nprobe=2, pool=10
    )


def _hard_negatives_oracle(nprobe: int = 2, k: int = 3) -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    coded AS (
        SELECT e.vec_id, e.label,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
        FROM e
    ),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM coded WHERE vec_id < {_AUTO_CELLS_SQL}),
    assign AS (
        SELECT vec_id, nv, label, cell FROM (
            SELECT c.vec_id, c.nv, c.label, ce.cell,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY round(-list_dot_product(c.nv, ce.c_nvec), 9), ce.cell
                   ) AS rn
            FROM coded c CROSS JOIN cents ce) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qnv, q_label, cell FROM (
            SELECT c.vec_id AS query_id, c.nv AS qnv, c.label AS q_label, ce.cell,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY round(-list_dot_product(c.nv, ce.c_nvec), 9), ce.cell
                   ) AS rn
            FROM coded c CROSS JOIN cents ce) WHERE rn <= {nprobe}
    ),
    scored AS (
        SELECT p.query_id, p.q_label, a.vec_id AS neighbor_id, a.label AS n_label,
               list_dot_product(p.qnv, a.nv) AS cos
        FROM assign a JOIN probes p
          ON a.cell = p.cell AND a.vec_id <> p.query_id AND a.label <> p.q_label
    )
    SELECT query_id, q_label, neighbor_id, n_label, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id)
             AS BIGINT) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@register(
    "sim_hard_negatives",
    oracle=_hard_negatives_oracle(),
    tags=("similarity", "ann", "contrastive", "mining", "relation"),
)
def q_sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for EVERY anchor
    embedding, the top-3 most-similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (easy negatives
    are already far).  Relation-shaped like `sim_topk_relation`: seeded
    IVF cells prune candidates (shuffle-hash join on the cell key, no
    query broadcast), the wrong-label filter rides the join, exact
    cosine ranks.  At 100 TB this is the standard offline miner: one
    cell-keyed pass per training epoch, anchors never collected.
    r12: the quantizer auto-sizes (K = ⌈N/125⌉, `auto_cells`)."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        as_double(F.col("embedding")).alias("v"),
    )
    c = c.withColumn("_n", norm(F.col("v"))).select(
        "neighbor_id", "n_label", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    q = c.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("n_label").alias("q_label"),
        F.col("nv").alias("qnv"),
    )
    cand = _relation_cell_candidates(
        c, q, n_cells=auto_cells(emb), nprobe=2, exclude_self=True
    )
    scored = cand.filter(F.col("n_label") != F.col("q_label")).withColumn(
        "cos", dot(F.col("qnv"), F.col("nv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            F.round("cos", 6).alias("cos"),
            "rank",
        )
    )


_IVFBIN_AUDIT_QUERIES = 8
_IVFBIN_AUDIT_NPROBE = 4
_IVFBIN_AUDIT_POOL = 15


def _ivf_binary_recall_audit_oracle() -> str:
    cells = _seeded_cells_sql(
        ", w0, w1|, c.w0, c.w1", ", qw0, qw1|, c.w0 AS qw0, c.w1 AS qw1",
        _IVFBIN_AUDIT_NPROBE,
    )
    return f"""
    WITH {_binary_coded_cte()},
    {cells},
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.qnv, a.nv,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY bit_count(xor(p.qw0, a.w0)) + bit_count(xor(p.qw1, a.w1)),
                            a.vec_id) AS crn
        FROM assign a
        JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
        WHERE p.query_id < {_IVFBIN_AUDIT_QUERIES}
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round(list_dot_product(qnv, nv), 9) DESC,
                                neighbor_id) AS rank
            FROM cand WHERE crn <= {_IVFBIN_AUDIT_POOL})
        WHERE rank <= 5
    ),
    exact AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.nv, c.nv), 9) DESC,
                                c.vec_id) AS rank
            FROM coded q JOIN coded c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < {_IVFBIN_AUDIT_QUERIES})
        WHERE rank <= 5
    )
    SELECT x.query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           floor(count(a.neighbor_id) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5)
               / 1000000 AS recall,
           floor(sum(CASE WHEN a.neighbor_id IS NOT NULL
                          THEN 1.0 / log2(x.rank + 1) ELSE 0.0 END)
                 / sum(1.0 / log2(x.rank + 1)) * 1000000 + 0.5) / 1000000 AS ndcg
    FROM exact x LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """


@register(
    "sim_ivf_binary_recall_audit",
    oracle=_ivf_binary_recall_audit_oracle(),
    tags=("similarity", "ann", "eval", "audit", "ivf", "binary"),
)
def q_sim_ivf_binary_recall_audit(spark, sf_dir):
    """Retrieval-quality audit of the COMPOSED binary-inside-IVF serve:
    per query, recall@5 and binary-relevance nDCG@5 against exact
    brute-force cosine ground truth — `sim_recall_audit`'s methodology
    applied to the cell-pruned path, so the audit now prices BOTH
    approximations at once (cells dropping true neighbors outside the
    probe set, 1-bit codes mis-ranking the pool).  Wider probe budget
    (nprobe=4, pool=15) than the serve defaults, the setting an audit
    would green-light for production."""
    emb = load_table(spark, sf_dir, "embeddings")
    panel = emb.filter(F.col("vec_id") < _IVFBIN_AUDIT_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, panel, k=5)
    approx = ivf_binary_topk_relation(
        emb,
        panel,
        k=5,
        n_cells=16,
        nprobe=_IVFBIN_AUDIT_NPROBE,
        pool=_IVFBIN_AUDIT_POOL,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    j = exact.join(approx, ["query_id", "neighbor_id"], "left")
    w = F.lit(1.0) / F.log2(F.col("rank") + F.lit(1))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return j.groupBy("query_id").agg(
        F.count("*").cast("long").alias("k"),
        F.count("_hit").cast("long").alias("n_hit"),
        canon(F.count("_hit") / F.count("*")).alias("recall"),
        canon(
            F.sum(F.when(F.col("_hit").isNotNull(), w).otherwise(F.lit(0.0)))
            / F.sum(w)
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Spectral audit (r9): PCA top components by distributed Gram aggregation +
# deterministic power iteration — "how concentrated is the embedding
# space?" (effective dimensionality / variance-share), the classic
# representation-collapse check.  Public method: Gram/covariance as a sum
# of per-row outer products, power iteration with deflation (Golub & Van
# Loan).  Cross-engine determinism: the ONLY nondeterministic step is
# floating-point summation order inside aggregates, so every aggregate
# (Gram entries, matvec components, squared norms) is rounded — 6dp for
# the Gram, 9dp inside iterations — before further use; everything else
# is identical IEEE arithmetic, so eigenvectors match bit-wise and the
# whole audit carries a full value-hash oracle (the LSTM twin's pinning
# strategy applied to linear algebra).
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 6


def gram_partial(df: DataFrame, vec: str = "embedding", dim: int = _PCA_DIM) -> DataFrame:
    """UNROUNDED partial Gram sums Σ_rows v·vᵀ as (i, j, g) — the
    mergeable per-batch state of the streaming accumulator (partial sums
    merge by grouped sum; rounding must happen exactly once, on the
    TOTAL, or per-batch rounding errors accumulate past the 6dp canon).

    r14 (guide §4.2): computed as a per-task numpy ``AᵀA`` inside
    ``mapInArrow`` — each task emits ONE dim² partial matrix — replacing
    the nested-transform explode that pushed |rows|·dim² struct rows
    through a hash aggregate (at sf0.1: 8.2M exploded rows, ~3 s, vs
    ~0.2 s for the matmul).  Exactness class unchanged: partial sums were
    ALWAYS summation-order-dependent (per-partition / per-batch partials
    merge by grouped sum) and the design absorbs that in the single
    serve-time round-6 on the total — the matmul is just another
    summation order, ~1e-12 relative from any other (parity re-verified
    at sf0.001/0.01/0.1, plus the serve == batch suite).

    Every vector must be non-null with exactly ``dim`` non-null elements;
    anything else raises ``ValueError`` naming the row's position in its
    partition (a null element would otherwise turn the whole partial into
    NaN, and ragged rows would be reshaped into wrong rows)."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    def _first_null(arr) -> int:
        return int(np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False))[0])

    def _first_bad_row(col):
        """(row, problem) for the earliest row whose vector is outside the
        contract, or None."""
        found = []
        offsets = col.offsets.to_numpy()
        lengths = np.diff(offsets)
        if col.null_count:
            nulls = col.is_null().to_numpy(zero_copy_only=False)
            found.append((int(np.flatnonzero(nulls)[0]), "is a null vector"))
            lengths[nulls] = dim
        bad = np.flatnonzero(lengths != dim)
        if bad.size:
            found.append((int(bad[0]), f"has {lengths[bad[0]]} elements, expected {dim}"))
        values = col.values.slice(offsets[0], offsets[-1] - offsets[0])
        if values.null_count:
            pos = _first_null(values)
            row = int(np.searchsorted(offsets - offsets[0], pos, side="right")) - 1
            found.append((row, "has a null element"))
        return min(found, key=lambda f: f[0]) if found else None

    def _gram(batches):
        from pyspark import TaskContext  # noqa: PLC0415

        acc = np.zeros((dim, dim), dtype=np.float64)
        saw = False
        start = 0
        for batch in batches:
            col = batch.column(0)
            bad = _first_bad_row(col)
            if bad is not None:
                raise ValueError(
                    f"gram_partial: row {start + bad[0]} of partition "
                    f"{TaskContext.get().partitionId()} {bad[1]}"
                )
            start += len(col)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size:
                a = flat.reshape(-1, dim)
                acc += a.T @ a
                saw = True
        if saw:
            idx = np.arange(1, dim + 1, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(idx, dim)),
                    pa.array(np.tile(idx, dim)),
                    pa.array(acc.ravel()),
                ],
                names=["i", "j", "g"],
            )

    src = df.select(as_double(F.col(vec)).alias("v"))
    part = src.mapInArrow(_gram, schema="i int, j int, g double")
    return part.groupBy("i", "j").agg(F.sum("g").alias("g"))


def embedding_gram(df: DataFrame, vec: str = "embedding", dim: int = _PCA_DIM) -> DataFrame:
    """Uncentered Gram matrix G = Σ_rows v·vᵀ as a (i, j, g) relation
    (1-based, g rounded to 6dp).  Per row the 64×64 products explode from
    two nested index-aware transforms — pure codegen, one shuffle of dim²
    groups; at 100 TB this is the standard outer-product-sum with a
    map-side partial aggregate (4096 doubles per task), and the collected
    result is only ever a dim²-row MODEL relation."""
    return gram_partial(df, vec, dim).select(
        "i", "j", F.round("g", 6).alias("g")
    )


def _round_half_up(x: float, scale: int) -> float:
    """Driver-side replica of Spark's ``round(double, s)``: Spark rounds
    ``BigDecimal.valueOf(x)`` (= the shortest round-trip decimal repr,
    exactly what Python's ``repr(float)`` produces) HALF_UP at ``s``
    digits.  NOT ``round()``/``np.round`` — those are HALF_EVEN."""
    import decimal  # noqa: PLC0415

    if x != x or x in (float("inf"), float("-inf")):
        return x
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
        )
    )


def _pca_oracle() -> str:
    dim, iters = _PCA_DIM, _PCA_ITERS

    def power(tag: str, gsrc: str) -> list[str]:
        ctes = [
            f"x{tag}0 AS MATERIALIZED (SELECT CAST(r.range AS INT) AS j, CAST(0.125 AS DOUBLE) AS x "
            f"FROM range(1, {dim + 1}) r)"
        ]
        for t in range(1, iters + 1):
            ctes.append(
                f"y{tag}{t} AS MATERIALIZED (SELECT g.i, round(sum(g.g * x.x), 9) AS y "
                f"FROM {gsrc} g JOIN x{tag}{t - 1} x ON g.j = x.j GROUP BY g.i)"
            )
            ctes.append(
                f"n{tag}{t} AS MATERIALIZED (SELECT round(sum(y * y), 9) AS n2 FROM y{tag}{t})"
            )
            ctes.append(
                f"x{tag}{t} AS MATERIALIZED (SELECT y.i AS j, y.y / sqrt(n.n2) AS x "
                f"FROM y{tag}{t} y CROSS JOIN n{tag}{t} n)"
            )
        ctes.append(
            f"lam{tag} AS MATERIALIZED (SELECT round(sum(g.g * xi.x * xj.x), 9) AS lam "
            f"FROM {gsrc} g JOIN x{tag}{iters} xi ON xi.j = g.i "
            f"JOIN x{tag}{iters} xj ON xj.j = g.j)"
        )
        return ctes

    ctes = [
        "e AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v FROM embeddings)",
        f"g1 AS MATERIALIZED (SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j, "
        f"round(sum(v[i.range] * v[j.range]), 6) AS g "
        f"FROM e CROSS JOIN range(1, {dim + 1}) i CROSS JOIN range(1, {dim + 1}) j "
        f"GROUP BY 1, 2)",
    ]
    ctes += power("a", "g1")
    ctes.append(
        "g2 AS MATERIALIZED (SELECT g.i, g.j, round(g.g - l.lam * xi.x * xj.x, 9) AS g "
        f"FROM g1 g JOIN xa{iters} xi ON xi.j = g.i "
        f"JOIN xa{iters} xj ON xj.j = g.j CROSS JOIN lama l)"
    )
    ctes += power("b", "g2")
    ctes.append("tr AS MATERIALIZED (SELECT round(sum(g), 6) AS trace FROM g1 WHERE i = j)")
    body = ",\n    ".join(ctes)
    sel = (
        f"SELECT CAST(1 AS INT) AS component, CAST(x.j AS INT) AS dim, "
        f"round(x.x, 6) AS loading, round(l.lam, 6) AS eigenvalue, "
        f"round(l.lam / t.trace, 6) AS energy_share "
        f"FROM xa{iters} x CROSS JOIN lama l CROSS JOIN tr t "
        f"UNION ALL "
        f"SELECT CAST(2 AS INT), CAST(x.j AS INT), round(x.x, 6), "
        f"round(l.lam, 6), round(l.lam / t.trace, 6) "
        f"FROM xb{iters} x CROSS JOIN lamb l CROSS JOIN tr t"
    )
    return f"WITH {body}\n    {sel}"


@register(
    "embedding_pca_power",
    oracle=_pca_oracle(),
    tags=("similarity", "embedding", "audit", "pca", "spectral"),
)
def q_embedding_pca_power(spark, sf_dir):
    """Spectral concentration audit of the embedding space: top-2
    principal directions of the uncentered Gram by power iteration with
    deflation; per (component, dim) the loading, plus each component's
    eigenvalue and share of total energy (trace).  A healthy embedding
    spreads energy; a collapsing one concentrates it in the first
    component — this is the audit that catches that drift, beside
    `embedding_hubness` and `embedding_silhouette`.  128 output rows,
    every loading value-hash-checked against a DuckDB replay of the
    identical rounded-aggregate iteration."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pca_from_gram(embedding_gram(emb))


@register(
    "embedding_pca_stream_serve",
    oracle=_pca_oracle(),
    tags=("similarity", "embedding", "audit", "pca", "streaming", "incremental"),
)
def q_embedding_pca_stream_serve(spark, sf_dir):
    """INCREMENTAL twin of `embedding_pca_power`, exercised as a
    batch-callable query: embeddings are ingested in three deterministic
    micro-batches (split on pmod(xxhash64(vec_id), 3)) through
    `GramStreamAccumulator`, whose per-batch state is the UNROUNDED
    4096-row partial Gram; the served spectral audit over the merged
    matrix is returned.  The oracle is the plain one-pass batch SQL —
    passing value-hash-exact proves the grouped-sum Gram merge + the
    single serve-time rounding reproduce the batch spectrum exactly
    (rounding once on the total is what makes per-batch partials safe;
    see streaming/pca_stream.py)."""
    import atexit
    import shutil
    import tempfile

    from ..streaming.pca_stream import GramStreamAccumulator  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    store = tempfile.mkdtemp(prefix="gram_serve_")
    atexit.register(shutil.rmtree, store, ignore_errors=True)
    acc = GramStreamAccumulator(spark, store)
    for bid in range(3):
        acc.ingest_batch(
            emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(3)) == bid), bid
        )
    return acc.serve_pca()


_PCA_SCHEMA = (
    "component int, dim int, loading double, eigenvalue double, "
    "energy_share double"
)


def pca_from_gram(g: DataFrame) -> DataFrame:
    """Top-2 power-iteration PCA from a ROUNDED (i, j, g) Gram relation —
    shared by the batch query and the streaming accumulator's serve (the
    two produce the same rounded Gram, so this body makes serve == batch
    by construction).

    r13 (optimization, guide §1.2/§5): the Gram relation is a MODEL-sized
    dim² = 4096-row matrix — bounded at ANY corpus scale (the data-scale
    work is the one-pass outer-product aggregation that produced it) — so
    the 2-component × 6-iteration deflation chain runs DRIVER-SIDE on the
    collected matrix instead of as ~30 sequential Spark jobs of 64-row
    joins, eager localCheckpoints and scalar aggregates (measured 6.1 s /
    7.0 s per PCA query at sf0.1, almost entirely job-scheduling floor;
    the collect is the same bounded-model-relation class as the IVF
    centroid fetches).  Arithmetic is replicated EXACTLY: ``round(x, s)``
    on a double in Spark is shortest-repr-decimal HALF_UP
    (`_round_half_up`), sums are exactly-rounded ``math.fsum`` (the
    engines' own partition-order sums already differ below the 9-dp
    rounding floor — parity re-verified at sf0.001/0.01/0.1)."""
    import math  # noqa: PLC0415

    spark = g.sparkSession
    dim, iters = _PCA_DIM, _PCA_ITERS
    ent = {(r[0], r[1]): float(r[2]) for r in g.collect()}  # dim² model rows
    if not ent:
        # empty Gram (no vectors ingested) -> empty audit, matching the
        # join-based plan's behaviour
        return spark.createDataFrame([], _PCA_SCHEMA)
    g1 = [[ent.get((i + 1, j + 1), 0.0) for j in range(dim)] for i in range(dim)]

    def power(mat: list[list[float]]) -> list[float]:
        x = [0.125] * dim
        for _ in range(iters):
            y = [
                _round_half_up(math.fsum(mat[i][j] * x[j] for j in range(dim)), 9)
                for i in range(dim)
            ]
            n2 = _round_half_up(math.fsum(v * v for v in y), 9)
            rn = math.sqrt(n2)
            x = [v / rn for v in y]
        return x

    def rayleigh(mat: list[list[float]], x: list[float]) -> float:
        return _round_half_up(
            math.fsum(
                mat[i][j] * x[i] * x[j] for i in range(dim) for j in range(dim)
            ),
            9,
        )

    x1 = power(g1)
    l1 = rayleigh(g1, x1)
    # deflation: G2 = G1 − λ1·x1x1ᵀ, entries re-rounded to 9dp
    g2 = [
        [_round_half_up(g1[i][j] - l1 * x1[i] * x1[j], 9) for j in range(dim)]
        for i in range(dim)
    ]
    x2 = power(g2)
    l2 = rayleigh(g2, x2)
    trace = _round_half_up(math.fsum(g1[i][i] for i in range(dim)), 6)
    rows = [
        (
            c,
            j + 1,
            _round_half_up(x[j], 6),
            _round_half_up(lam, 6),
            _round_half_up(lam / trace, 6),
        )
        for c, (x, lam) in ((1, (x1, l1)), (2, (x2, l2)))
        for j in range(dim)
    ]
    return spark.createDataFrame(rows, _PCA_SCHEMA)


# ---------------------------------------------------------------------------
# kNN label probe — representation-quality evaluation (r5)
# ---------------------------------------------------------------------------


@register(
    "embedding_knn_probe",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               n.label AS neighbor_label,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.v, n.v), 9) DESC,
                            n.vec_id) AS rnk
        FROM e q JOIN e n ON q.vec_id <> n.vec_id
    ), votes AS (
        SELECT query_id, true_label, neighbor_label,
               CAST(count(*) AS BIGINT) AS n_votes
        FROM scored WHERE rnk <= 5
        GROUP BY query_id, true_label, neighbor_label
    ), pred AS (
        SELECT query_id, true_label, neighbor_label AS pred_label,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY n_votes DESC, neighbor_label) AS vr
        FROM votes
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE pred_label = true_label) AS BIGINT)
               AS n_correct,
           round(count(*) FILTER (WHERE pred_label = true_label)
                 / CAST(count(*) AS DOUBLE), 6) AS knn_accuracy
    FROM pred WHERE vr = 1
    GROUP BY true_label
    """,
    tags=("similarity", "knn", "evaluation", "probe"),
)
def q_embedding_knn_probe(spark, sf_dir):
    """kNN label probe (k=5): classify every vector by the majority label
    of its 5 exact nearest neighbors (cosine; self excluded; ties broken
    by neighbor id, vote ties toward the smaller label) and report
    per-class accuracy — the standard REPRESENTATION-QUALITY metric for
    an embedding column (high probe accuracy = the geometry encodes the
    labels; run it before trusting embedding dedup/ANN results).

    At this scale the probe is the exact all-pairs score (the correctness
    baseline); at 100 TB the identical vote/accuracy math runs over
    `sim_ivfpq_topk`'s candidates instead — the probe's join input is the
    only thing that changes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"), "embedding"
    )
    top = brute_force_topk(emb, queries.select("query_id", "embedding"), k=5)
    nbr_labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neighbor_label")
    )
    votes = (
        top.join(nbr_labels, "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count("*").cast("long").alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("neighbor_label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("neighbor_label").alias("pred_label"))
    )
    joined = pred.join(queries.select("query_id", "true_label"), "query_id")
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return joined.groupBy(F.col("true_label").alias("label")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(correct).cast("long").alias("n_correct"),
        F.round(F.sum(correct) / F.count("*").cast("double"), 6).alias("knn_accuracy"),
    )


# ---------------------------------------------------------------------------
# Hubness audit — k-occurrence distribution of the embedding space (r5)
# ---------------------------------------------------------------------------


@register(
    "embedding_hubness",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.v, n.v), 9) DESC,
                            n.vec_id) AS rnk
        FROM e q JOIN e n ON q.vec_id <> n.vec_id
    ), occ AS (
        SELECT e.vec_id,
               CAST(count(s.query_id) AS BIGINT) AS k_occurrence
        FROM e LEFT JOIN scored s
          ON s.neighbor_id = e.vec_id AND s.rnk <= 10
        GROUP BY e.vec_id
    )
    SELECT k_occurrence, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id
    FROM occ GROUP BY k_occurrence
    """,
    tags=("similarity", "hubness", "evaluation", "probe"),
)
def q_embedding_hubness(spark, sf_dir):
    """Hubness audit: the k-occurrence N_10(x) distribution — for every
    vector, how many OTHER vectors list it in their exact cosine top-10.
    A heavy right tail (hub vectors appearing in hundreds of lists) is the
    classic high-dimensional pathology that silently corrupts embedding
    dedup and ANN-based curation (hubs absorb every cluster), so this is
    the audit to run next to `embedding_knn_probe` before trusting the
    space. Output: histogram of k-occurrence values (antihubs land in the
    k=0 bucket via the left join).

    Exact all-pairs at this scale (the correctness baseline; same
    deterministic round-9 + id tie-break as every kNN op here); at 100 TB
    the identical occurrence-count/histogram math runs over
    `sim_ivfpq_topk`'s candidate lists instead — only the join input
    changes, as with the kNN probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    top = brute_force_topk(emb, queries, k=10)
    occ = (
        emb.select(F.col("vec_id"))
        .join(
            top.select(F.col("neighbor_id").alias("vec_id"), "query_id"),
            "vec_id",
            "left",
        )
        .groupBy("vec_id")
        .agg(F.count("query_id").cast("long").alias("k_occurrence"))
    )
    return occ.groupBy("k_occurrence").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
    )


# ---------------------------------------------------------------------------
# Centroid drift — did the embedding geometry move between two cohorts? (r5)
# ---------------------------------------------------------------------------


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id % 2 AS half, label, embedding::DOUBLE[] AS v
        FROM embeddings
    ), ex AS (
        SELECT half, label, generate_subscripts(v, 1) AS i, unnest(v) AS x
        FROM e
    ), cents AS (
        SELECT label, i,
               avg(x) FILTER (WHERE half = 0) AS ma,
               avg(x) FILTER (WHERE half = 1) AS mb
        FROM ex GROUP BY label, i
    ), sums AS (
        SELECT label, sum(ma * mb) AS dotab, sum(ma * ma) AS na2,
               sum(mb * mb) AS nb2, sum((ma - mb) * (ma - mb)) AS d2
        FROM cents GROUP BY label
    ), counts AS (
        SELECT label,
               CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS n_b
        FROM e GROUP BY label
    )
    SELECT s.label, c.n_a, c.n_b,
           floor(s.dotab / sqrt(s.na2 * s.nb2) * 1000000 + 0.5) / 1000000
               AS centroid_cos,
           floor(sqrt(s.d2) * 1000000 + 0.5) / 1000000 AS l2_shift
    FROM sums s JOIN counts c ON c.label = s.label
    """,
    tags=("similarity", "drift", "centroid", "evaluation"),
)
def q_embedding_centroid_drift(spark, sf_dir):
    """Per-label centroid drift between two deterministic cohorts
    (vec_id parity stands in for before/after re-embedding): cosine and
    L2 distance between each label's cohort centroids — the cheap audit
    that catches a silently re-trained or mis-versioned embedding model
    before ANN indexes and dedup thresholds go stale against it.

    Scale shape: one posexplode + grouped avg builds both centroid tables
    in a single pass (dims x labels rows); the drift math runs on that
    tiny per-dim relation, never on the vectors again — at 100 TB this is
    one scan + one (label, dim)-keyed shuffle. Means and the two closing
    IEEE expressions are floor-canonicalized at 1e-6."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2).alias("half"), "label",
        as_double(F.col("embedding")).alias("v"),
    )
    ex = e.select("half", "label", F.posexplode("v").alias("i", "x"))
    cents = ex.groupBy("label", "i").agg(
        F.avg(F.when(F.col("half") == 0, F.col("x"))).alias("ma"),
        F.avg(F.when(F.col("half") == 1, F.col("x"))).alias("mb"),
    )
    sums = cents.groupBy("label").agg(
        F.sum(F.col("ma") * F.col("mb")).alias("dotab"),
        F.sum(F.col("ma") * F.col("ma")).alias("na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("nb2"),
        F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))).alias("d2"),
    )
    counts = e.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return sums.join(counts, "label").select(
        "label", "n_a", "n_b",
        canon(F.col("dotab") / F.sqrt(F.col("na2") * F.col("nb2"))).alias("centroid_cos"),
        canon(F.sqrt(F.col("d2"))).alias("l2_shift"),
    )


# ---------------------------------------------------------------------------
# MMR — maximal-marginal-relevance diversified top-k selection (r5)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 20
_MMR_K = 5


def mmr_select(
    cand: DataFrame, pair: DataFrame, k: int = _MMR_K, lam: float = _MMR_LAMBDA
) -> DataFrame:
    """Greedy MMR over a candidate pool: round r picks
    argmax lam*rel(i) - (1-lam)*max_{j in selected} sim(i, j).

    ``cand``: (cid, rel) with rel pre-rounded to 9; ``pair``: (i, j, s)
    pairwise sims (i != j), also round-9. The selection key is
    floor(score*1e9 + 0.5) with a cid tiebreak so both engines pick the
    identical sequence. Each round is an anti-join + grouped max + top-1
    over the POOL relation (bounded, broadcastable) — the expensive part
    (candidate generation) stays in the ANN operators; MMR itself never
    touches the corpus."""
    sel = None
    for r in range(1, k + 1):
        remaining = cand if sel is None else cand.join(sel, "cid", "left_anti")
        if sel is None:
            scored = remaining.select(
                "cid", "rel", (F.lit(lam) * F.col("rel")).alias("score")
            )
        else:
            ms = (
                pair.withColumnRenamed("i", "cid")
                .join(sel.select(F.col("cid").alias("j")), "j")
                .groupBy("cid")
                .agg(F.max("s").alias("maxsim"))
            )
            scored = remaining.join(ms, "cid", "left").select(
                "cid", "rel",
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(1 - lam) * F.coalesce(F.col("maxsim"), F.lit(0.0))
                ).alias("score"),
            )
        key = F.floor(F.col("score") * 1000000000 + F.lit(0.5))
        pick = (
            scored.orderBy(key.desc(), F.asc("cid"))
            .limit(1)
            .select(
                "cid", "rel",
                F.lit(r).cast("long").alias("pick_order"),
                (F.floor(F.col("score") * 1000000 + F.lit(0.5)) / 1000000).alias(
                    "mmr_score"
                ),
            )
            # EAGER: each pick is 1 row but feeds both the selected-set
            # union and the next round's anti-join; a lazy checkpoint
            # would re-execute every earlier round once per reference.
            .localCheckpoint(eager=True)
        )
        sel = pick if sel is None else sel.union(pick)
    return sel


def _mmr_oracle() -> str:
    rounds = []
    sel_union = "SELECT cid FROM p1"
    for r in range(2, _MMR_K + 1):
        rounds.append(f"""
    , sel{r - 1} AS ({sel_union})
    , p{r} AS (
        SELECT c.cid, c.rel, {r} AS pick_order,
               floor((0.7 * c.rel - 0.3 * (
                   SELECT max(s) FROM pair
                   WHERE pair.i = c.cid AND pair.j IN (SELECT cid FROM sel{r - 1})
               )) * 1000000 + 0.5) / 1000000 AS mmr_score
        FROM cand c WHERE c.cid NOT IN (SELECT cid FROM sel{r - 1})
        ORDER BY floor((0.7 * c.rel - 0.3 * (
                   SELECT max(s) FROM pair
                   WHERE pair.i = c.cid AND pair.j IN (SELECT cid FROM sel{r - 1})
               )) * 1000000000 + 0.5) DESC, c.cid LIMIT 1
    )""")
        sel_union += f" UNION ALL SELECT cid FROM p{r}"
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST(pick_order AS BIGINT) AS pick_order, cid AS cand_id,"
        f" round(rel, 6) AS relevance, mmr_score FROM p{r}"
        for r in range(1, _MMR_K + 1)
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (SELECT v FROM e WHERE vec_id = 0),
    cand AS MATERIALIZED (
        SELECT n.vec_id AS cid,
               round(list_cosine_similarity(n.v, q.v), 9) AS rel, n.v
        FROM e n, q WHERE n.vec_id <> 0
        ORDER BY rel DESC, cid LIMIT {_MMR_POOL}
    ),
    pair AS MATERIALIZED (
        SELECT a.cid AS i, b.cid AS j,
               round(list_cosine_similarity(a.v, b.v), 9) AS s
        FROM cand a JOIN cand b ON a.cid <> b.cid
    ),
    p1 AS (
        SELECT cid, rel, 1 AS pick_order,
               floor(0.7 * rel * 1000000 + 0.5) / 1000000 AS mmr_score
        FROM cand
        ORDER BY floor(0.7 * rel * 1000000000 + 0.5) DESC, cid LIMIT 1
    ){"".join(rounds)}
    {unions}
    """


@register(
    "sim_mmr_select",
    oracle=_mmr_oracle(),
    tags=("similarity", "mmr", "diversity", "retrieval"),
)
def q_sim_mmr_select(spark, sf_dir):
    """Maximal-marginal-relevance selection: from query vector 0's exact
    cosine top-20 pool, greedily pick 5 results balancing relevance against
    redundancy (lambda=0.7) — the diversified-retrieval operator behind
    few-shot example selection and dedup-aware RAG serving, where plain
    top-k returns five near-copies of the same document.

    Candidate generation is the ANN stack's job (here the exact top-20 —
    the correctness baseline; at scale `sim_ivfpq_topk`'s pool); MMR then
    runs entirely on the bounded pool relation: per round one anti-join,
    one grouped max over the precomputed pool-pair sims, one top-1. Greedy
    selection is genuinely sequential (each pick changes the next round's
    penalty), so the oracle unrolls the 5 rounds as CTE stages, the same
    pattern as `graph_kcore_peel`. Round-9 sims + 1e-9 selection keys +
    cid tiebreaks make the pick sequence identical on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("vq"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("cid"),
            F.round(cosine(F.col("v"), F.col("vq")), 9).alias("rel"),
            "v",
        )
        .orderBy(F.desc("rel"), F.asc("cid"))
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a = cand.select(F.col("cid").alias("i"), F.col("v").alias("va"))
    b = cand.select(F.col("cid").alias("j"), F.col("v").alias("vb"))
    pair = (
        a.crossJoin(b)
        .filter(F.col("i") != F.col("j"))
        .select("i", "j", F.round(cosine(F.col("va"), F.col("vb")), 9).alias("s"))
        .localCheckpoint(eager=True)
    )
    sel = mmr_select(cand.select("cid", "rel"), pair)
    return sel.select(
        "pick_order",
        F.col("cid").alias("cand_id"),
        F.round("rel", 6).alias("relevance"),
        "mmr_score",
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion — combining two retrieval rankers (r5)
# ---------------------------------------------------------------------------


@register(
    "sim_rrf_fusion",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10
    ), cosr AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.v, n.v), 9) DESC,
                            n.vec_id) AS r
        FROM q JOIN e n ON n.vec_id <> q.query_id
    ), dotr AS (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_inner_product(q.v, n.v), 9) DESC,
                            n.vec_id) AS r
        FROM q JOIN e n ON n.vec_id <> q.query_id
    ), fused AS (
        SELECT coalesce(c.query_id, d.query_id) AS query_id,
               coalesce(c.neighbor_id, d.neighbor_id) AS neighbor_id,
               floor((coalesce(1.0 / (60 + c.r), 0.0)
                      + coalesce(1.0 / (60 + d.r), 0.0)) * 1000000000 + 0.5)
                   / 1000000000 AS rrf
        FROM (SELECT * FROM cosr WHERE r <= 20) c
        FULL OUTER JOIN (SELECT * FROM dotr WHERE r <= 20) d
          ON d.query_id = c.query_id AND d.neighbor_id = c.neighbor_id
    ), final AS (
        SELECT query_id, neighbor_id, rrf,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, neighbor_id) AS rank
        FROM fused
    )
    SELECT query_id, neighbor_id, rrf, CAST(rank AS BIGINT) AS rank
    FROM final WHERE rank <= 10
    """,
    tags=("similarity", "fusion", "retrieval", "rrf"),
)
def q_sim_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two retrieval rankers — cosine (length-
    normalized) and raw inner product (magnitude-sensitive) — per query:
    rrf = Σ 1/(60 + rank_i) over the rankers that returned the candidate
    in their top-20, re-ranked to a fused top-10. RRF is the standard
    scoreless way to combine heterogeneous rankers (BM25 + dense, or here
    two vector geometries) without calibrating their score scales.

    Both constituent rankings reuse the GEMM top-k core (corpus never
    shuffles); fusion is a full-outer join of two k·|queries|-row lists +
    one window — candidate-volume work only. Ranks are integers, so the
    only float is the fixed 1/(60+r) sum, canonicalized at 1e-9."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cosr = brute_force_topk(emb, queries, k=20).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_cos")
    )
    # inner-product ranker: same GEMM shape, unnormalized
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    q_rows = queries.select("query_id", "embedding").collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    bq = emb.sparkSession.sparkContext.broadcast((qids, qmat))

    def score(batches):
        qids_, qm = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            order = np.argsort(ids)
            ids = ids[order]
            cmat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )[order]
            s9 = np.round(cmat @ qm.T, 9)
            m = min(52, s9.shape[0])
            if m < s9.shape[0]:
                top = np.argpartition(-s9, m - 1, axis=0)[:m]
            else:
                top = np.broadcast_to(
                    np.arange(s9.shape[0])[:, None], (s9.shape[0], len(qids_))
                )
            yield pd.DataFrame(
                {
                    "query_id": np.broadcast_to(qids_, top.shape).ravel(),
                    "neighbor_id": ids[top].ravel(),
                    "dp": np.take_along_axis(s9, top, axis=0).ravel(),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, dp double"
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("dp"), F.asc("neighbor_id"))
    dotr = (
        scored.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("r_dot", F.row_number().over(wd).cast("long"))
        .filter(F.col("r_dot") <= 20)
        .select("query_id", "neighbor_id", "r_dot")
    )
    fused = cosr.join(dotr, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id", "neighbor_id",
        (
            F.floor(
                (
                    F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_cos")), F.lit(0.0))
                    + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_dot")), F.lit(0.0))
                )
                * 1000000000
                + F.lit(0.5)
            )
            / 1000000000
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "rrf", "rank")
    )


_KMEANS_D2_SQL = (
    "round(list_sum(list_transform(list_zip(e.v, {c}.c),"
    " p -> (p[1] - p[2]) * (p[1] - p[2]))), 9)"
)


def _kmeans_assign_sql(cent: str, out: str) -> str:
    """CTE text: assign each row of ``e`` to its nearest ``cent`` cell by
    the ordered squared-distance fold (round(d2,9), min-cell tie-break)."""
    return f"""{out} AS (
        SELECT e.vec_id, e.v, m.cell, m.d FROM e, LATERAL (
            SELECT {cent}.cell AS cell, {_KMEANS_D2_SQL.format(c=cent)} AS d
            FROM {cent} ORDER BY 2, 1 LIMIT 1
        ) m
    )"""


def _kmeans_update_sql(a: str, out: str) -> str:
    """CTE text: exact-arithmetic centroid update (1e-9-quantized BIGINT
    component sums) from assignment CTE ``a``."""
    return f"""{out}_g AS (
        SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM {a}
    ), {out} AS (
        SELECT cell,
               list(CAST(s AS DOUBLE) / (1000000000.0 * n) ORDER BY pos) AS c
        FROM (SELECT cell, pos,
                     SUM(CAST(round(x * 1000000000) AS BIGINT)) AS s,
                     COUNT(*) AS n
              FROM {out}_g GROUP BY cell, pos)
        GROUP BY cell
    )"""


def _kmeans_oracle(k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """DuckDB twin of the exact-arithmetic Lloyd loop: same seed cells,
    same ordered squared-distance fold, same round(d2, 9) + min-cell
    tie-break argmin, same integer-quantized (1e-9) component sums — so
    the centroid doubles, member counts, and quantized inertia are
    bit-identical, not merely close."""
    assign = _kmeans_assign_sql
    update = _kmeans_update_sql

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < {k})",
    ]
    cur = "c0"
    for i in range(1, iters + 1):
        ctes.append(assign(cur, f"a{i}"))
        ctes.append(update(f"a{i}", f"c{i}"))
        cur = f"c{i}"
    ctes.append(assign(cur, "af"))
    return f"""
    WITH {", ".join(ctes)}
    SELECT af.cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(sqrt(list_sum(list_transform(any_value({cur}.c), x -> x * x))), 6)
               AS centroid_norm,
           CAST(SUM(CAST(round(af.d * 1000000) AS BIGINT)) AS BIGINT) AS inertia_micros
    FROM af JOIN {cur} ON af.cell = {cur}.cell
    GROUP BY af.cell
    """


def _kmeans_sqdist(v, c):
    """Ordered (x−y)² fold — term-for-term the oracle's
    list_sum(list_transform(list_zip(...)))."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _kmeans_assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Zero-shuffle Lloyd assignment: K centroids collapse to ONE broadcast
    row; argmin is a per-row array_min over struct(round(d2,9), cell) — the
    `ivf_assign` / `embedding_pq_codebook` model-broadcast shape (one
    expression tree; sibling nested-HOF trees miscompile in Spark 4.1)."""
    model = cents.agg(F.collect_list(F.struct("cell", "c")).alias("_cents"))
    scored = e.crossJoin(F.broadcast(model))
    best = F.array_min(
        F.transform(
            "_cents",
            lambda t: F.struct(
                F.round(_kmeans_sqdist(F.col("v"), t["c"]), 9).alias("d"),
                t["cell"].alias("cell"),
            ),
        )
    )
    return scored.select(
        "vec_id", "v", best.getField("cell").alias("cell"), best.getField("d").alias("d")
    )


def kmeans_lloyd_exact(
    emb: DataFrame, k: int = 4, iters: int = 2, dim: int = 64, normalize: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Distributed Lloyd k-means with EXACT-arithmetic centroid updates:
    component sums are 1e-9-quantized BIGINTs (associative — any partition
    order gives the same centroid doubles), so unlike `ivf_train`'s fp
    `avg` path this loop is value-hash-verifiable against a SQL oracle.
    Returns (final centroids, final assignment with per-row round(d2,9)).

    Scale shape per iteration: one zero-shuffle broadcast-model assignment
    + ONE grouped aggregation of dim sum-buffers (the `_cell_means`
    single-exchange shape) — the data never moves; only K×dim partial sums
    shuffle. Seeds are the vec_id < k vectors (deterministic, same
    convention as `seed_centroids`).

    r13 centroid fold: when K×dim is MODEL-sized (≤ 2^20 components) the
    per-iteration update collects the exact (cell, pos, s, n) long partials
    and rebuilds the centroid relation as a LocalTableScan — the
    `pca_from_gram` bounded-model-collect class; identical doubles (IEEE
    long→double widening + division match the JVM, A/B-checked row-for-row)
    with no per-iteration localCheckpoint planning cost and a flat
    downstream plan.  Past that bound (K ∝ N serves at corpus scale) the
    update stays fully distributed behind a lazy plan-cut checkpoint."""
    e = ensure_min_partitions(emb).select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    )
    if normalize:
        e = e.withColumn("_n", norm(F.col("v"))).select(
            "vec_id", F.transform("v", lambda x: x / F.col("_n")).alias("v")
        )
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("c")
    )
    for _ in range(iters):
        assigned = _kmeans_assign(e, cents)
        # r13 (guide §7.3, §1.2): the previous dim-wide unrolled update —
        # 64 separate sum(round(v[i]*1e9)) aggregates + a 64-expression
        # array rebuild per iteration — cost ~4.6 s of DRIVER time per
        # query build (eager PySpark analysis re-walks the growing tree on
        # every transformation; Spark jobs themselves summed to ~1 s).
        # posexplode + one (cell, pos) long-sum is the oracle's own
        # generate_subscripts shape, ships the same K×dim partial rows
        # through the exchange (map-side partial agg), and keeps the
        # arithmetic bit-identical: sum(cast(round(x*1e9) as long)) per
        # component, then s/(1e9*n); array_sort on (pos, …) makes the
        # reassembly order deterministic.
        part = (
            assigned.select(
                "cell",
                F.posexplode(
                    F.transform("v", lambda x: F.round(x * 1e9).cast("long"))
                ).alias("pos", "q"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        )
        if k * dim <= (1 << 20):
            # bounded-model driver fold: Python float division over the
            # exact long partials is the same IEEE double op as
            # s.cast(double)/(1e9*n) — bit-identical centroids
            bycell: dict[int, dict[int, float]] = {}
            for r in part.collect():
                bycell.setdefault(r["cell"], {})[r["pos"]] = float(r["s"]) / (
                    1_000_000_000.0 * float(r["n"])
                )
            cents = e.sparkSession.createDataFrame(
                [(cell, [d[p] for p in sorted(d)]) for cell, d in sorted(bycell.items())],
                "cell int, c array<double>",
            )
        else:
            cents = part.groupBy("cell").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                    lambda t: t["s"].cast("double") / (F.lit(1_000_000_000.0) * t["n"]),
                ).alias("c")
            ).localCheckpoint(eager=False)
    return cents, _kmeans_assign(e, cents)


@register(
    "ml_kmeans_summary",
    oracle=_kmeans_oracle(k=4, iters=2, dim=64),
    tags=("ml", "clustering", "embedding"),
)
def q_ml_kmeans_summary(spark, sf_dir):
    """Lloyd k-means (k=4, 2 iterations) over the embeddings with
    exact-arithmetic updates: per final cell, member count, centroid norm,
    and 1e-6-quantized inertia — the oracle-checkable twin of `ivf_train`
    (whose fp-mean path backs the rows-only `sim_ivf_topk`). Trains the
    coarse quantizer the IVF/SemDeDup stores assume exists."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, assigned = kmeans_lloyd_exact(emb, k=4, iters=2, dim=64)
    cnorm = cents.select(
        "cell",
        F.round(
            F.sqrt(F.aggregate("c", F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("centroid_norm"),
    )
    agg = assigned.groupBy("cell").agg(
        F.count("*").alias("n_members"),
        F.sum(F.round(F.col("d") * 1e6).cast("long")).alias("inertia_micros"),
    )
    return agg.join(cnorm, "cell").select(
        "cell", "n_members", "centroid_norm", "inertia_micros"
    )


# ---------------------------------------------------------------------------
# Cluster-quality audit — simplified silhouette over seeded cells (r7)
# ---------------------------------------------------------------------------


@register(
    "embedding_silhouette",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < 16),
    d AS (
        SELECT n.vec_id, c.cell,
               1.0 - list_dot_product(n.nv, c.c_nvec) AS d
        FROM n CROSS JOIN cents c
    ), own AS (
        SELECT vec_id, cell, d FROM (
            SELECT vec_id, cell, d,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY round(d, 9), cell) AS rn
            FROM d)
        WHERE rn = 1
    ), nearest_other AS (
        SELECT d.vec_id, min(d.d) AS b
        FROM d JOIN own o ON d.vec_id = o.vec_id AND d.cell <> o.cell
        GROUP BY d.vec_id
    ), sil AS (
        SELECT o.cell,
               (t.b - o.d) / greatest(o.d, t.b) AS s
        FROM own o JOIN nearest_other t ON t.vec_id = o.vec_id
    )
    SELECT cell, CAST(count(*) AS BIGINT) AS n,
           floor(sum(s) / count(*) * 1000000 + 0.5) / 1000000 AS mean_sil
    FROM sil GROUP BY cell
    """,
    tags=("similarity", "clustering", "audit"),
)
def q_embedding_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per cell over the seeded
    16-cell partition — the cluster-quality audit for the IVF/SemDeDup
    cell structure: s = (b − a)/max(a, b) with a = cosine distance to the
    OWN centroid and b = distance to the nearest OTHER centroid (the
    O(n·k) medoid-free form; full silhouette's O(n²) pairwise term is
    exactly what a 100 TB audit cannot afford).  Near-zero or negative
    mean s in a cell says its members sit closer to a neighboring
    centroid — the signal to re-train the coarse quantizer or raise
    nprobe.  Same deterministic seeding as `sim_ivf_topk_seeded` (cell j
    = normalized corpus vector j), so the audit covers the exact
    partition the seeded serving queries use.  Shape: one k-row centroid
    broadcast, per-row distance array (zero shuffles), one grouped mean;
    assignment tiebreak round(d,9)+cell matches the IVF convention."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    c = c.withColumn("_n", norm(F.col("v"))).select(
        "vec_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    cents = c.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("nv").alias("c_nvec")
    )
    cents_row = cents.agg(F.collect_list(F.struct("cell", "c_nvec")).alias("_cents"))
    # one HOF instance per projection (Spark 4.1 sibling-nested-lambda
    # hazard — see pq_assign): distances first, then argmin, then b.
    withd = c.crossJoin(F.broadcast(cents_row)).withColumn(
        "_ds",
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                F.round(F.lit(1.0) - dot(F.col("nv"), s.c_nvec), 9).alias("d9"),
                s.cell.alias("cell"),
                (F.lit(1.0) - dot(F.col("nv"), s.c_nvec)).alias("d"),
            ),
        ),
    )
    withown = withd.withColumn("_own", F.array_min("_ds"))
    sil = withown.withColumn(
        "_b",
        F.array_min(
            F.filter(F.col("_ds"), lambda x: x.cell != F.col("_own.cell"))
        ),
    ).select(
        F.col("_own.cell").alias("cell"),
        ((F.col("_b.d") - F.col("_own.d")) / F.greatest("_own.d", "_b.d")).alias("s"),
    )
    return sil.groupBy("cell").agg(
        F.count("*").cast("long").alias("n"),
        (F.floor(F.sum("s") / F.count("*") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "mean_sil"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming semantic-dedup drift serve (r8) — the silhouette audit joined to
# the admission store: both halves existed (embedding_silhouette,
# SemanticDedupStore); this query is the one serve between them.
# ---------------------------------------------------------------------------

_SEM_DRIFT_TAU = 0.3
_SEM_NPROBE = 2  # SemanticDedupStore's shipping default (r13 multi-probe)


def _sem_drift_oracle() -> str:
    from ..functions.hashing import md5_60_sql  # noqa: PLC0415

    bid = f"{md5_60_sql('CAST(vec_id AS VARCHAR)')} % 3"
    return f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
                 {bid} AS bid
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < {_AUTO_CELLS_SQL}),
    probes AS (
        SELECT vec_id, nv, bid, cell, a_d, rn FROM (
            SELECT n.vec_id, n.nv, n.bid, c.cell,
                   1.0 - list_dot_product(n.nv, c.c_nvec) AS a_d,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn <= {_SEM_NPROBE}
    ),
    assign AS (
        SELECT vec_id, nv, bid, cell, a_d FROM probes WHERE rn = 1
    ),
    edges AS (
        SELECT DISTINCT pa.bid, pa.vec_id AS src, pb.vec_id AS dst
        FROM probes pa JOIN probes pb
          ON pa.bid = pb.bid AND pa.cell = pb.cell AND pa.vec_id <> pb.vec_id
        WHERE round(list_dot_product(pa.nv, pb.nv), 9) >= {_SEM_DRIFT_TAU}
    ),
    reach(bid, a, b) AS (
        SELECT bid, src, dst FROM edges
        UNION
        SELECT r.bid, r.a, ed.dst
        FROM reach r JOIN edges ed ON ed.bid = r.bid AND ed.src = r.b
    ),
    rep AS (
        SELECT a.vec_id,
               least(a.vec_id, coalesce(min(r.b), a.vec_id)) AS rep_id
        FROM assign a LEFT JOIN reach r ON r.a = a.vec_id
        GROUP BY a.vec_id
    ),
    reps AS (
        SELECT s.* FROM assign s
        JOIN rep ON rep.vec_id = s.vec_id AND rep.rep_id = s.vec_id
    ),
    acc0 AS (SELECT * FROM reps WHERE bid = 0),
    acc1 AS (
        SELECT r.* FROM reps r WHERE r.bid = 1 AND NOT EXISTS (
            SELECT 1 FROM acc0 o
            JOIN probes po ON po.vec_id = o.vec_id
            JOIN probes pr ON pr.vec_id = r.vec_id AND pr.cell = po.cell
            WHERE round(list_dot_product(r.nv, o.nv), 9) >= {_SEM_DRIFT_TAU})
    ),
    acc01 AS (SELECT * FROM acc0 UNION ALL SELECT * FROM acc1),
    acc2 AS (
        SELECT r.* FROM reps r WHERE r.bid = 2 AND NOT EXISTS (
            SELECT 1 FROM acc01 o
            JOIN probes po ON po.vec_id = o.vec_id
            JOIN probes pr ON pr.vec_id = r.vec_id AND pr.cell = po.cell
            WHERE round(list_dot_product(r.nv, o.nv), 9) >= {_SEM_DRIFT_TAU})
    ),
    accepted AS (SELECT vec_id FROM acc01 UNION ALL SELECT vec_id FROM acc2),
    od AS (
        SELECT n.vec_id, c.cell,
               1.0 - list_dot_product(n.nv, c.c_nvec) AS d,
               round(-list_dot_product(n.nv, c.c_nvec), 9) AS d9
        FROM n CROSS JOIN cents c
    ),
    bsel AS (
        SELECT vec_id, d AS b FROM (
            SELECT o.vec_id, o.d,
                   row_number() OVER (
                       PARTITION BY o.vec_id ORDER BY o.d9, o.cell) AS rn
            FROM od o JOIN assign s
              ON s.vec_id = o.vec_id AND o.cell <> s.cell)
        WHERE rn = 1
    ),
    sil AS (
        SELECT s.cell, s.vec_id,
               (b.b - s.a_d) / greatest(s.a_d, b.b) AS sv
        FROM assign s JOIN bsel b ON b.vec_id = s.vec_id
    )
    SELECT s.cell,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(a.vec_id) AS BIGINT) AS n_accepted,
           floor(sum(sv) / count(*) * 1000000 + 0.5) / 1000000 AS mean_sil_all,
           floor(sum(CASE WHEN a.vec_id IS NOT NULL THEN sv END)
                 / count(a.vec_id) * 1000000 + 0.5) / 1000000
               AS mean_sil_accepted,
           floor((sum(CASE WHEN a.vec_id IS NOT NULL THEN sv END) / count(a.vec_id)
                  - sum(sv) / count(*)) * 1000000 + 0.5) / 1000000 AS sil_drift
    FROM sil s LEFT JOIN accepted a ON a.vec_id = s.vec_id
    GROUP BY s.cell
    """


@register(
    "dedup_semantic_drift_serve",
    oracle=_sem_drift_oracle(),
    tags=("dedup", "semantic", "streaming", "audit", "incremental"),
)
def q_dedup_semantic_drift_serve(spark, sf_dir):
    """Cluster-quality DRIFT under streaming semantic dedup: the
    embeddings are ingested in three deterministic micro-batches (split
    on the cross-engine md5-60 hash so the DuckDB oracle replays the
    SAME batch membership) through `SemanticDedupStore` — first-seen-wins
    admission with within-batch component collapse — and the serve joins
    the admission verdicts to the simplified-silhouette audit: per cell,
    total vs accepted counts and mean silhouette over all vs over the
    admitted survivors.  ``sil_drift`` answers the operational question
    semantic dedup raises at 100 TB: does pruning near-dups sharpen the
    cell structure (drift > 0 — survivors sit closer to their own
    centroid than the average member) or is a cell's apparent coherence
    an artifact of duplicate mass?

    Unlike the grid-merge serves (`ml_roc_auc_stream_serve`), the
    admitted SET is order-dependent (first-seen-wins over chains), so the
    oracle is not the plain one-batch SQL — it REPLAYS the admission:
    same hash split, same probe tiebreak (round(-dot,9), cell — the
    `ivf_assign` convention), within-batch min-label components via a
    recursive transitive closure over MULTI-PROBE shared-cell edges
    (r13: the store probes its nprobe=2 nearest cells, closing the
    measured 61.9% single-probe cross-cell blind spot to 9.5% —
    `dedup_cross_cell_audit`), and the 3-stage ledger probe unrolled
    with the same shared-probed-cell candidate rule.  Value-hash parity
    therefore pins the entire streaming pipeline's verdict sequence,
    not just the readout arithmetic.

    Scale shape: assignment and silhouette are zero-shuffle broadcast
    projections; admission joins are cell-keyed (Σ|cell|², never
    |corpus|²); the readout is one grouped agg over a per-row flag
    semi-join."""
    import atexit  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from ..functions.hashing import md5_60  # noqa: PLC0415
    from ..streaming.semantic_ingest import SemanticDedupStore  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    c = c.withColumn("_n", norm(F.col("v"))).select(
        "vec_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    # auto-sized quantizer (r13): the fixed 16-cell seed set froze per-cell
    # volume at N²/16 — measured 12.7x at 10x data; auto-K restores the
    # cell-pruned Σ|cell|² bound (4.0x on the multiprobe serve's shape).
    cents = c.filter(F.col("vec_id") < auto_cells(emb)).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("nv").alias("c_nvec")
    )
    store_dir = tempfile.mkdtemp(prefix="sem_drift_serve_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = SemanticDedupStore(
        spark, store_dir, cents, threshold=_SEM_DRIFT_TAU, nprobe=_SEM_NPROBE
    )
    bid_col = F.pmod(md5_60(F.col("vec_id").cast("string")), F.lit(3))
    for bid in range(3):
        store.ingest_batch(emb.filter(bid_col == F.lit(bid)), bid)
    accepted = store.serve().select("vec_id", F.lit(1).alias("_acc"))

    cents_row = cents.agg(F.collect_list(F.struct("cell", "c_nvec")).alias("_cents"))
    withd = c.crossJoin(F.broadcast(cents_row)).withColumn(
        "_ds",
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                F.round(-dot(F.col("nv"), s.c_nvec), 9).alias("d9"),
                s.cell.alias("cell"),
                (F.lit(1.0) - dot(F.col("nv"), s.c_nvec)).alias("d"),
            ),
        ),
    )
    withown = withd.withColumn("_own", F.array_min("_ds"))
    sil = withown.withColumn(
        "_b",
        F.array_min(F.filter(F.col("_ds"), lambda x: x.cell != F.col("_own.cell"))),
    ).select(
        "vec_id",
        F.col("_own.cell").alias("cell"),
        ((F.col("_b.d") - F.col("_own.d")) / F.greatest("_own.d", "_b.d")).alias("s"),
    )
    flagged = sil.join(accepted, "vec_id", "left")
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    acc_sum = F.sum(F.when(F.col("_acc") == 1, F.col("s")))
    acc_n = F.count("_acc")
    return flagged.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_total"),
        acc_n.cast("long").alias("n_accepted"),
        canon(F.sum("s") / F.count("*")).alias("mean_sil_all"),
        canon(acc_sum / acc_n).alias("mean_sil_accepted"),
        canon(acc_sum / acc_n - F.sum("s") / F.count("*")).alias("sil_drift"),
    )


# ---------------------------------------------------------------------------
# nprobe sweep — recall/nDCG as a function of probe depth (r10)
# ---------------------------------------------------------------------------


def _nprobe_curve_oracle(probes=(1, 2, 4), n_queries=8, k=5) -> str:
    """UNION-ALL oracle: one seeded-IVF approx block per nprobe setting,
    each audited against the shared exact top-k CTE."""
    blocks = []
    for p in probes:
        blocks.append(f"""
    , probes_{p} AS (
        SELECT query_id, cell FROM (
            SELECT n.vec_id AS query_id, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c WHERE n.vec_id < {n_queries})
        WHERE rn <= {p}
    ), approx_{p} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round(list_dot_product(q.v_q, a.nv), 9) DESC,
                                a.vec_id) AS rank
            FROM probes_{p} p
            JOIN q ON q.query_id = p.query_id
            JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id)
        WHERE rank <= {k}
    ), perq_{p} AS (
        SELECT x.query_id,
               CAST(count(*) AS BIGINT) AS kk,
               CAST(count(a.neighbor_id) AS BIGINT) AS hit,
               CAST(floor(sum(CASE WHEN a.neighbor_id IS NOT NULL
                                   THEN 1.0 / log2(x.rank + 1) ELSE 0.0 END)
                          / sum(1.0 / log2(x.rank + 1)) * 1000000000 + 0.5)
                    AS BIGINT) AS ndcg_q
        FROM exact x LEFT JOIN approx_{p} a
          ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
        GROUP BY x.query_id
    ), stat_{p} AS (
        SELECT CAST({p} AS BIGINT) AS nprobe,
               CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(kk) AS BIGINT) AS total_exact,
               CAST(sum(hit) AS BIGINT) AS total_hit,
               floor(CAST(sum(hit) AS DOUBLE) / sum(kk) * 1000000 + 0.5)
                 / 1000000 AS recall_micro,
               floor(CAST(sum(ndcg_q) AS DOUBLE) / (1000000000.0 * count(*))
                     * 1000000 + 0.5) / 1000000 AS mean_ndcg
        FROM perq_{p}
    )""")
    union = "\n    UNION ALL ".join(f"SELECT * FROM stat_{p}" for p in probes)
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < 16),
    assign AS (
        SELECT vec_id, nv, cell FROM (
            SELECT n.vec_id, n.nv, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, nv AS v_q FROM n WHERE vec_id < {n_queries}),
    exact AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.v_q, c.nv), 9) DESC,
                                c.vec_id) AS rank
            FROM q JOIN n c ON c.vec_id <> q.query_id)
        WHERE rank <= {k}
    ){"".join(blocks)}
    {union}
    ORDER BY nprobe
    """


@register(
    "sim_nprobe_recall_curve",
    oracle=_nprobe_curve_oracle(),
    tags=("similarity", "ann", "eval", "audit", "tuning"),
)
def q_sim_nprobe_recall_curve(spark, sf_dir):
    """The ANN TUNING CURVE: recall@5 and mean nDCG@5 of the seeded-IVF
    serve at nprobe ∈ {1, 2, 4} against exact brute-force cosine truth —
    the measurement that decides a production index's probe depth, where
    every +1 nprobe buys recall at a linear cost in candidates scanned.
    `sim_recall_audit` grades ONE operating point of the binary path;
    this sweeps the knob that actually gets tuned.

    Micro-averaged recall (Σhits/Σtruth — exact integer ratio) and
    mean nDCG (per-query nDCG nano-quantized BEFORE the 8-query average,
    the order-insensitive convention).  All three serving runs share the
    one checkpointed exact ground truth, so the corpus GEMM is paid once.

    Scale: the audit panel is bounded by construction (8 queries); the
    per-nprobe serves are the standard broadcast-model IVF probes whose
    candidate cost is nprobe/n_cells of the corpus — the sweep's total
    cost is ~(1+2+4)/16 ≈ 44% of one full scan plus the exact baseline.
    Output: 3 rows, one per operating point — recall must be
    non-decreasing in nprobe (pinned by test)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).localCheckpoint(eager=False)
    w = F.lit(1.0) / F.log2(F.col("rank") + F.lit(1))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    parts = []
    for p in (1, 2, 4):
        approx = ivf_topk_seeded(emb, queries, k=5, n_cells=16, nprobe=p).select(
            "query_id", "neighbor_id", F.lit(1).alias("_hit")
        )
        perq = (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count("*").cast("long").alias("kk"),
                F.count("_hit").cast("long").alias("hit"),
                F.floor(
                    F.sum(F.when(F.col("_hit").isNotNull(), w).otherwise(F.lit(0.0)))
                    / F.sum(w)
                    * 1000000000
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("ndcg_q"),
            )
        )
        parts.append(
            perq.agg(
                F.lit(p).cast("long").alias("nprobe"),
                F.count("*").cast("long").alias("n_queries"),
                F.sum("kk").cast("long").alias("total_exact"),
                F.sum("hit").cast("long").alias("total_hit"),
                canon(F.sum("hit").cast("double") / F.sum("kk")).alias("recall_micro"),
                canon(
                    F.sum("ndcg_q").cast("double")
                    / (F.lit(1000000000.0) * F.count("*"))
                ).alias("mean_ndcg"),
            )
        )
    out = parts[0]
    for pdf in parts[1:]:
        out = out.union(pdf)
    return out.orderBy("nprobe")


# ---------------------------------------------------------------------------
# k-center seeding — farthest-first traversal with its coverage radius
# ---------------------------------------------------------------------------

_KC_K = 4


def _kc_sqdist_sql(a: str, b: str) -> str:
    """Squared L2 as dot products — the exact-fold convention every IVF
    oracle here uses (list_dot_product == Spark's left-to-right fold)."""
    return (
        f"(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}))"
    )


def _kcenter_oracle() -> str:
    d = _kc_sqdist_sql
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
    d1 AS (
        SELECT e.vec_id, e.v, {d("e.v", "s1.v")} AS dmin
        FROM e CROSS JOIN s1
    ),
    s2 AS (SELECT vec_id, v, dmin FROM d1
           ORDER BY round(dmin, 9) DESC, vec_id LIMIT 1),
    d2 AS (
        SELECT d1.vec_id, d1.v,
               least(d1.dmin, {d("d1.v", "s2.v")}) AS dmin
        FROM d1 CROSS JOIN s2
    ),
    s3 AS (SELECT vec_id, v, dmin FROM d2
           ORDER BY round(dmin, 9) DESC, vec_id LIMIT 1),
    d3 AS (
        SELECT d2.vec_id, d2.v,
               least(d2.dmin, {d("d2.v", "s3.v")}) AS dmin
        FROM d2 CROSS JOIN s3
    ),
    s4 AS (SELECT vec_id, v, dmin FROM d3
           ORDER BY round(dmin, 9) DESC, vec_id LIMIT 1),
    d4 AS (
        SELECT d3.vec_id,
               least(d3.dmin, {d("d3.v", "s4.v")}) AS dmin
        FROM d3 CROSS JOIN s4
    ),
    radius AS (SELECT max(round(dmin, 9)) AS r2 FROM d4)
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS seed_rank, s1.vec_id,
               0.0 AS sq_dist_at_pick,
               floor((SELECT r2 FROM radius) * 1000000 + 0.5) / 1000000
                   AS coverage_radius_sq
        FROM s1
        UNION ALL
        SELECT CAST(2 AS BIGINT), s2.vec_id,
               floor(s2.dmin * 1000000 + 0.5) / 1000000,
               floor((SELECT r2 FROM radius) * 1000000 + 0.5) / 1000000 FROM s2
        UNION ALL
        SELECT CAST(3 AS BIGINT), s3.vec_id,
               floor(s3.dmin * 1000000 + 0.5) / 1000000,
               floor((SELECT r2 FROM radius) * 1000000 + 0.5) / 1000000 FROM s3
        UNION ALL
        SELECT CAST(4 AS BIGINT), s4.vec_id,
               floor(s4.dmin * 1000000 + 0.5) / 1000000,
               floor((SELECT r2 FROM radius) * 1000000 + 0.5) / 1000000 FROM s4
    ) ORDER BY seed_rank
    """


@register(
    "sim_kcenter_seeds",
    oracle=_kcenter_oracle(),
    tags=("similarity", "clustering", "k-center", "seeding"),
)
def q_sim_kcenter_seeds(spark, sf_dir):
    """Farthest-first traversal (Gonzalez 1985, public): pick the lowest
    vec_id, then 3× pick the point FARTHEST from everything chosen —
    the deterministic k-center seeding whose final coverage radius
    (max-min distance of the corpus to the 4 seeds) is a guaranteed
    2-approximation of the optimal 4-center radius.  The principled
    alternative to the id-seeded IVF centroids (`sim_ivf_topk_seeded`):
    id-seeds can land in one dense cluster; farthest-first provably
    spreads.  The emitted `sq_dist_at_pick` sequence is non-increasing —
    it IS the k-center cost curve, and where it elbows is the right k.

    Exactness: squared distances expand to the three dot products whose
    left-to-right folds match `list_dot_product` bit-wise (the IVF
    convention); each argmax orders by round-9 distance with vec_id
    tiebreak; no randomness anywhere.

    Scale: k passes over the corpus, each one broadcast of ≤ k chosen
    vectors + one TakeOrdered-1 — farthest-first is WHY k-center scales
    (compare kmeans++ which needs a weighted sample per round); the
    running min-distance column is carried, not recomputed, so pass r
    computes only the distance to the ONE new seed."""
    from ..functions.vector import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    sq = lambda a, b: dot(a, a) - 2 * dot(a, b) + dot(b, b)  # noqa: E731
    s1 = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("svid"), F.col("v").alias("sv")
    )
    d = e.crossJoin(F.broadcast(s1)).select(
        "vec_id", "v", sq(F.col("v"), F.col("sv")).alias("dmin")
    ).localCheckpoint(eager=False)
    seeds = [(1, s1.select(F.col("svid").alias("vec_id"), F.lit(0.0).alias("dpick")))]
    for rank in (2, 3, 4):
        s = (
            d.orderBy(F.desc(F.round("dmin", 9)), "vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("svid"),
                F.col("v").alias("sv"),
                F.col("dmin").alias("dpick"),
            )
        ).localCheckpoint(eager=False)
        seeds.append((rank, s.select(F.col("svid").alias("vec_id"), "dpick")))
        d = d.crossJoin(F.broadcast(s.select("sv"))).select(
            "vec_id",
            "v",
            F.least(F.col("dmin"), sq(F.col("v"), F.col("sv"))).alias("dmin"),
        ).localCheckpoint(eager=False)
    radius = d.agg(F.max(F.round("dmin", 9)).alias("r2"))
    canon = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    out = None
    for rank, s in seeds:
        row = s.crossJoin(F.broadcast(radius)).select(
            F.lit(rank).cast("long").alias("seed_rank"),
            "vec_id",
            canon(F.col("dpick")).alias("sq_dist_at_pick"),
            canon(F.col("r2")).alias("coverage_radius_sq"),
        )
        out = row if out is None else out.union(row)
    return out.orderBy("seed_rank")


# ---------------------------------------------------------------------------
# Lloyd-trained relation-side ANN serve (r11) — VERDICT r10 item 9
# ---------------------------------------------------------------------------


def _kmeans_probe(e: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """``nprobe`` nearest cells per row of ``e`` by the exact
    squared-distance fold — the multi-cell generalization of
    `_kmeans_assign` (same one-row model broadcast, same round(d2,9) +
    min-cell tie-break, `array_sort` + `slice` instead of `array_min`)."""
    model = cents.agg(F.collect_list(F.struct("cell", "c")).alias("_cents"))
    arr = F.transform(
        "_cents",
        lambda t: F.struct(
            F.round(_kmeans_sqdist(F.col("v"), t["c"]), 9).alias("d"),
            t["cell"].alias("cell"),
        ),
    )
    return (
        e.crossJoin(F.broadcast(model))
        .withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(arr), 1, nprobe), lambda s: s.getField("cell")
                )
            ),
        )
        .select("vec_id", "v", "cell")
    )


def _lloyd_relation_oracle(
    k: int = 3, n_cells: int | str = 8, nprobe: int = 2, iters: int = 2
) -> str:
    """DuckDB twin of the Lloyd-quantizer relation serve: normalized
    vectors, the exact-arithmetic Lloyd CTE chain (`_kmeans_assign_sql` /
    `_kmeans_update_sql` — the `ml_kmeans_summary` device), multi-cell
    probes by the same d2 order, cosine rank over the probed candidates."""
    d2 = _KMEANS_D2_SQL.format(c="c")
    ctes = [
        "raw AS (SELECT vec_id, embedding::DOUBLE[] AS u FROM embeddings)",
        "e AS (SELECT vec_id,"
        " list_transform(u, x -> x / sqrt(list_dot_product(u, u))) AS v FROM raw)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e WHERE vec_id < {n_cells})",
    ]
    cur = "c0"
    for i in range(1, iters + 1):
        ctes.append(_kmeans_assign_sql(cur, f"a{i}"))
        ctes.append(_kmeans_update_sql(f"a{i}", f"c{i}"))
        cur = f"c{i}"
    ctes.append(_kmeans_assign_sql(cur, "af"))
    ctes.append(
        f"""probes AS (
        SELECT vec_id AS query_id, v AS v_q, cell FROM (
            SELECT e.vec_id AS vec_id, e.v AS v, c.cell AS cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cell) AS rn
            FROM e CROSS JOIN {cur} c)
        WHERE rn <= {nprobe}
    )"""
    )
    ctes.append(
        """scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_dot_product(p.v_q, a.v) AS cos
        FROM af a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )"""
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT query_id, neighbor_id, round(cos, 6) AS cos,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 9) DESC, neighbor_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= {k}
    """


@register(
    "sim_topk_relation_lloyd",
    oracle=_lloyd_relation_oracle(n_cells=_AUTO_CELLS_SQL),
    tags=("similarity", "ivf", "ann", "relation", "kmeans"),
)
def q_sim_topk_relation_lloyd(spark, sf_dir):
    """Corpus-vs-corpus kNN (every embedding row is a query; top-3 by
    cosine within 2 probed cells) served from a LLOYD-TRAINED coarse
    quantizer (K = ⌈N/125⌉ auto-sized cells — `auto_cells`, r12; 2
    exact-arithmetic iterations on normalized vectors) — closing VERDICT
    r10 item 9 (trained-centroid path under a full value-hash oracle) and
    r11 item 1 (the fixed test-scale K was the repo's last superlinear
    scaling: candidate volume ~N²/K, measured 27× at 10× data; K ∝ N
    makes it linear, and training cost stays one K×dim aggregation per
    iteration).

    Same scale shape as `sim_topk_relation`: the ONLY broadcast is the
    K-row centroid model (collapsed to one row), candidates ride a pinned
    shuffle-hash join on the cell key, ranking is a window over the
    query_id exchange — no driver collect, |Q| rides the shuffle
    machinery.  Training adds `kmeans_lloyd_exact`'s per-iteration cost:
    one zero-shuffle assignment + one K×dim partial-sum aggregation —
    the data never moves."""
    emb = load_table(spark, sf_dir, "embeddings")
    k_cells = auto_cells(emb)
    cents, assigned = kmeans_lloyd_exact(
        emb, k=k_cells, iters=2, dim=64, normalize=True
    )
    corpus = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("v_c"), "cell"
    )
    probes = _kmeans_probe(assigned.select("vec_id", "v"), cents, nprobe=2).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("v_q"), "cell"
    )
    # r13: salted explicit-parallelism candidate join (`_exploding_cell_join`)
    scored = (
        _exploding_cell_join(corpus, probes, k_cells, "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot(F.col("v_q"), F.col("v_c")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(F.round("cos", 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def ivf_assign_gemm(
    df: DataFrame, centroids: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """GEMM-path twin of :func:`ivf_assign` for LARGE K: assignment cost is
    O(N·K·dim) either way, but `ivf_assign`'s array higher-order functions
    are interpreted per element (HOFs don't enter whole-stage codegen) —
    the r11 sf1x measurement showed that at K=160 the interpreted
    projection, not the cell join, dominates the relation serve.  Here the
    K×dim centroid matrix ships once per task inside an Arrow
    ``mapInPandas`` and every batch scores as ONE numpy matmul — the
    vectorized constant is ~100× smaller per (vector, cell).

    Same decision rule as `ivf_assign`: argmin over cells of
    round(−v·c_nvec, 9) with the min-cell tiebreak (np.lexsort on
    (d9, cell)).  NOT bit-safe against the HOF fold (numpy reduces the dot
    in a different order, so a distance landing within ~1e-15 of a round-9
    boundary can flip) — this is the PERF path for big-K production
    assignment; oracle-bearing queries keep the fold.  Agreement at test
    scale is pinned by tests/test_r11_operators.py.

    Returns (id_col, cell int)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    model = centroids.select("cell", "c_nvec").collect()
    cells = np.array([r["cell"] for r in model], dtype=np.int64)
    cmat = np.array([r["c_nvec"] for r in model], dtype=np.float64)
    order = np.argsort(cells)
    cells, cmat = cells[order], cmat[order]

    def assign(batches):
        for pdf in batches:
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d9 = np.round(-(v @ cmat.T), 9)  # (n, K)
            # argmin with min-cell tiebreak: cells are sorted ascending, so
            # the first minimum along axis 1 IS the lowest-cell minimum.
            best = cells[np.argmin(d9, axis=1)]
            yield pd.DataFrame({id_col: pdf[id_col], "cell": best.astype(np.int32)})

    return df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_col} long, cell int"
    )


# ---------------------------------------------------------------------------
# GEMM serving path (r13) — the ladder rung past K ∝ √N: vectorize the
# probe/assign term so LINEAR K (and therefore linear candidate volume)
# wins again at extreme N
# ---------------------------------------------------------------------------


def auto_cells_linear(corpus: DataFrame) -> int:
    """The LINEAR auto-K rule (K = ⌈N/target⌉, no √N cap) — right when the
    probe/assign term is vectorized (the GEMM path below), wrong for the
    interpreted-HOF serves (`auto_cells` caps those at 0.4·√N)."""
    import math  # noqa: PLC0415

    return max(_CELL_FLOOR, math.ceil(corpus.count() / _CELL_TARGET))


def _gemm_cell_rows(
    df: DataFrame, centroids: DataFrame, vec_col: str, id_col: str, nprobe: int
) -> DataFrame:
    """Top-``nprobe`` cells per vector via one numpy matmul per Arrow
    batch, CARRYING the vector through so the downstream cell join can
    score without re-joining the source relation.  Decision rule matches
    the fold serves — order by (round(−v·c_nvec, 9), cell) — via a stable
    argsort over the ascending-cell column order; same bit-safety caveat
    as :func:`ivf_assign_gemm`.  Returns (id, cell int, rn int, vec)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    model = centroids.select("cell", "c_nvec").collect()
    cells = np.array([r["cell"] for r in model], dtype=np.int64)
    cmat = np.array([r["c_nvec"] for r in model], dtype=np.float64)
    order = np.argsort(cells)
    cells, cmat = cells[order], cmat[order]
    np_ = min(nprobe, len(cells))

    def probe(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d9 = np.round(-(v @ cmat.T), 9)  # (n, K)
            # stable argsort over ascending cells == (d9, cell) lex order
            idx = np.argsort(d9, axis=1, kind="stable")[:, :np_]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), np_),
                    "cell": cells[idx].ravel().astype(np.int32),
                    "rn": np.tile(np.arange(1, np_ + 1), n).astype(np.int32),
                    vec_col: [
                        row for row in pdf[vec_col] for _ in range(np_)
                    ],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        probe, schema=f"{id_col} long, cell int, rn int, {vec_col} array<double>"
    )


def ivf_topk_relation_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
    query_id: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """GEMM twin of :func:`ivf_topk_relation` — the ladder rung past the
    K ∝ √N cap (SCALE.md r13): the fold serves' probe/assign term is
    interpreted array-HOF work costing ~1.5e-5 s per (vector, cell)
    locally, which forces `auto_cells` to cap K (and accept N^1.5
    candidate growth).  Here corpus assignment (rn = 1) and query probing
    (rn ≤ nprobe) are numpy matmuls inside Arrow ``mapInPandas`` — the
    per-(vector, cell) constant drops ~100×, so the LINEAR K rule
    (`auto_cells_linear`: constant cell size, candidate volume linear in
    N) is affordable again.  Candidate join and exact re-rank are the
    same Catalyst shuffle-hash-on-cell + window plan as the fold path.

    Bit-safety: numpy reduces dots in a different order than the fold, so
    a distance within ~1e-15 of a round-9 boundary can flip a cell.  The
    registered `sim_topk_relation_gemm` nonetheless carries the fold's
    full oracle, and nothing guards the boundary band: agreement rests on
    no such distance occurring in the test data.  A band-guarded exact
    re-fold is an open item (ROADMAP item 4).  Agreement with
    `ivf_topk_relation` at test scale is pinned by
    tests/test_r13_operators.py."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(F.col(vec)).alias("v_c"))
    c = c.withColumn("_n", norm(F.col("v_c"))).select(
        "neighbor_id", F.transform("v_c", lambda x: x / F.col("_n")).alias("v_c")
    )
    q = queries.select(F.col(query_id), as_double(F.col(vec)).alias("v_q"))
    q = q.withColumn("_n", norm(F.col("v_q"))).select(
        query_id, F.transform("v_q", lambda x: x / F.col("_n")).alias("v_q")
    )
    cents = c.filter(F.col("neighbor_id") < n_cells).select(
        F.col("neighbor_id").cast("int").alias("cell"), F.col("v_c").alias("c_nvec")
    )
    c_cells = _gemm_cell_rows(c, cents, "v_c", "neighbor_id", 1).drop("rn")
    q_cells = _gemm_cell_rows(q, cents, "v_q", query_id, nprobe).drop("rn")
    # r13: salted explicit-parallelism candidate join (`_exploding_cell_join`)
    scored = _exploding_cell_join(c_cells, q_cells, n_cells, query_id)
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col(query_id))
    scored = scored.withColumn("cos", dot(F.col("v_q"), F.col("v_c")))
    w = Window.partitionBy(query_id).orderBy(F.desc(F.round("cos", 9)), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id, "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


# The GEMM serve's oracle is the fold serve's oracle with the LINEAR
# auto-K rule (no √N cap) — the two serves differ ONLY in K and in how
# the probe/assign dot products are evaluated (numpy matmul vs HOF fold),
# and the round-9/round-6 canonicalization absorbs the reduction-order
# difference: bit-agreement with the fold path is pinned by
# test_gemm_relation_serve_matches_fold_path, and the r13 verdict's
# audit ("if it's bit-equal, it can carry the same oracle") upgraded
# this from rows-only to a full value-hash oracle (r14).
_AUTO_CELLS_LINEAR_SQL = (
    f"(SELECT GREATEST({_CELL_FLOOR}, "
    f"CAST(ceil(count(*) / {_CELL_TARGET}.0) AS INT)) FROM embeddings)"
)

_TOPK_RELATION_GEMM_ORACLE = _TOPK_RELATION_ORACLE.replace(
    _AUTO_CELLS_SQL, _AUTO_CELLS_LINEAR_SQL
)


@register(
    "sim_topk_relation_gemm",
    oracle=_TOPK_RELATION_GEMM_ORACLE,
    tags=("similarity", "ivf", "ann", "relation", "gemm", "scale-path"),
)
def q_sim_topk_relation_gemm(spark, sf_dir):
    """GEMM serving path: numpy matmuls inside Arrow ``mapInPandas`` for
    the probe/assign term.  Carries the fold serve's full value-hash
    oracle with the LINEAR auto-K substituted (see
    `_TOPK_RELATION_GEMM_ORACLE`) — per-row matmul dot products are
    batch-independent and agree with the DuckDB fold at the round-9
    tiebreak/round-6 output boundaries at sf0.001/0.01/0.1 (bit-agreement
    with `sim_topk_relation` pinned by test; was rows-only through r13).
    No band guard protects a dot within ~1e-15 of a round-9 boundary —
    see `ivf_topk_relation_gemm`.
    Uses the LINEAR auto-K rule — the point of vectorizing the probe
    term is that constant cell size (linear candidate volume) becomes
    affordable again past the fold ladder's √N cap; measured at sf1x in
    SCALE.md r13."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk_relation_gemm(
        emb, queries, k=3, n_cells=auto_cells_linear(emb), nprobe=2
    )


# ---------------------------------------------------------------------------
# Cross-cell near-duplicate audit (r12) — quantifying the SemDeDup blind spot
# ---------------------------------------------------------------------------

_XCELL_TAU = 0.4          # near-dup threshold, same as dedup_embedding_cosine
_XCELL_SAMPLE_MOD = 2     # audit sample: vec_id % 2 == 0 (half the corpus)
_XCELL_MAX_NPROBE = 4


_CROSS_CELL_AUDIT_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < {_AUTO_CELLS_SQL}),
    samp AS (SELECT * FROM n WHERE vec_id % {_XCELL_SAMPLE_MOD} = 0),
    probes AS (
        SELECT vec_id, cell, rn FROM (
            SELECT s.vec_id, c.cell,
                   row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(-list_dot_product(s.nv, c.c_nvec), 9), c.cell)
                       AS rn
            FROM samp s CROSS JOIN cents c) WHERE rn <= {_XCELL_MAX_NPROBE}
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM samp a JOIN samp b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.nv, b.nv), 9) >= {_XCELL_TAU}
    ),
    mj AS (
        SELECT pa.vec_id AS id_a, pb.vec_id AS id_b,
               min(greatest(pa.rn, pb.rn)) AS min_joint
        FROM probes pa JOIN probes pb ON pa.cell = pb.cell
                                     AND pa.vec_id < pb.vec_id
        GROUP BY 1, 2
    ),
    cover AS (
        SELECT p.id_a, p.id_b, mj.min_joint
        FROM pairs p LEFT JOIN mj USING (id_a, id_b)
    ),
    np(nprobe) AS (VALUES (1), (2), (4))
    SELECT CAST(np.nprobe AS INTEGER) AS nprobe,
           CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(sum(CASE WHEN min_joint = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_same_primary,
           CAST(sum(CASE WHEN min_joint <= np.nprobe THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered,
           CAST(count(*) - sum(CASE WHEN min_joint <= np.nprobe THEN 1 ELSE 0 END)
               AS BIGINT) AS n_missed,
           floor((count(*) - sum(CASE WHEN min_joint <= np.nprobe THEN 1 ELSE 0 END))
                 / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS missed_rate
    FROM cover CROSS JOIN np GROUP BY np.nprobe
    """


@register(
    "dedup_cross_cell_audit",
    oracle=_CROSS_CELL_AUDIT_ORACLE,
    tags=("dedup", "semantic", "audit", "ann", "cells"),
)
def q_dedup_cross_cell_audit(spark, sf_dir):
    """Cross-cell near-duplicate audit — quantifying the SemDeDup /
    `cell_local_components` blind spot (VERDICT r11 item 4): the
    streaming semantic store collapses duplicates WITHIN a quantizer
    cell, so a near-dup pair whose endpoints land in different cells is
    invisible to it.  This audit measures exactly that miss rate on a
    deterministic half-corpus sample: exact cosine ground-truth pairs
    (τ = 0.4, the `dedup_embedding_cosine` threshold), each pair scored
    by `min_joint` = the smallest nprobe at which the two endpoints
    SHARE a probed cell (min over shared cells of max(rn_a, rn_b), with
    the serves' round-9 + min-cell probe order and the auto-sized
    quantizer).  Output per nprobe ∈ {1, 2, 4}: true pairs, same-primary
    pairs (min_joint = 1 — what single-assignment SemDeDup sees),
    multi-probe-covered pairs, and the missed count/rate.

    Measured at sf0.01 (the r12 build): nprobe=1 misses 61.9% of true
    near-dup pairs, nprobe=2 misses 9.5%, nprobe=4 misses 0 — the
    concrete argument for multi-probe ingest (or a periodic cross-cell
    sweep with the generic CC) in front of the cell-local store.

    Scale: ground truth is an all-pairs check, so the audit runs on a
    SAMPLE by construction (vec_id % 2 here; any hash-stratified slice
    at 100 TB — you estimate the miss RATE, not enumerate every miss);
    the probe relation is the serves' broadcast-model projection and the
    coverage join is cell-keyed, both linear in the sample."""
    emb = load_table(spark, sf_dir, "embeddings")
    k_cells = auto_cells(emb)
    n = emb.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
    n = n.withColumn("_n", norm(F.col("v"))).select(
        "vec_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    cents = n.filter(F.col("vec_id") < k_cells).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("nv").alias("c_nvec")
    )
    samp = n.filter(F.col("vec_id") % _XCELL_SAMPLE_MOD == 0)
    arr = F.transform(
        "_cents",
        lambda t: F.struct(
            F.round(-dot(F.col("nv"), t["c_nvec"]), 9).alias("d"),
            t["cell"].alias("cell"),
        ),
    )
    probes = (
        samp.crossJoin(F.broadcast(_centroid_row(cents)))
        .select(
            "vec_id",
            F.posexplode(F.slice(F.array_sort(arr), 1, _XCELL_MAX_NPROBE)).alias(
                "pos", "pc"
            ),
        )
        .select(
            "vec_id",
            F.col("pc").getField("cell").alias("cell"),
            (F.col("pos") + 1).alias("rn"),
        )
    )
    # r13: the sample's ground-truth cross join is an EXPLODING join off a
    # one-partition scan — round-robin repartition the streamed side with
    # an explicit (non-AQE-coalescible) count so the |samp|² cosine folds
    # spread across every core (guide §2.5; same pathology as
    # `_exploding_cell_join`).
    a = samp.select(F.col("vec_id").alias("id_a"), F.col("nv").alias("nv_a")).repartition(
        SHUFFLE_PARTITIONS
    )
    b = samp.select(F.col("vec_id").alias("id_b"), F.col("nv").alias("nv_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(dot(F.col("nv_a"), F.col("nv_b")), 9) >= _XCELL_TAU)
        .select("id_a", "id_b")
    )
    pa = probes.select(F.col("vec_id").alias("id_a"), "cell", F.col("rn").alias("rn_a"))
    pb = probes.select(F.col("vec_id").alias("id_b"), "cell", F.col("rn").alias("rn_b"))
    mj = (
        _exploding_cell_join(pa, pb, k_cells, "id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min(F.greatest("rn_a", "rn_b")).alias("min_joint"))
    )
    cover = pairs.join(mj, ["id_a", "id_b"], "left")
    np_grid = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int")
    g = cover.crossJoin(F.broadcast(np_grid))
    covered = F.when(F.col("min_joint") <= F.col("nprobe"), 1).otherwise(0)
    canon = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return g.groupBy(F.col("nprobe").cast("int").alias("nprobe")).agg(
        F.count("*").cast("long").alias("n_true_pairs"),
        F.sum(F.when(F.col("min_joint") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_same_primary"),
        F.sum(covered).cast("long").alias("n_covered"),
        (F.count("*") - F.sum(covered)).cast("long").alias("n_missed"),
        canon((F.count("*") - F.sum(covered)) / F.count("*").cast("double")).alias(
            "missed_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Multi-probe semantic-dedup serve (r13) — the accepted SET under the store's
# shipping nprobe, pinned row-by-row (VERDICT r12 item 1)
# ---------------------------------------------------------------------------

_MP_TAU = 0.4  # the dedup_cross_cell_audit near-dup threshold


def _sem_multiprobe_oracle() -> str:
    from ..functions.hashing import md5_60_sql  # noqa: PLC0415

    bid = f"{md5_60_sql('CAST(vec_id AS VARCHAR)')} % 3"
    return f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv,
                 {bid} AS bid
          FROM e),
    cents AS (SELECT CAST(vec_id AS INT) AS cell, nv AS c_nvec
              FROM n WHERE vec_id < {_AUTO_CELLS_SQL}),
    probes AS (
        SELECT vec_id, nv, bid, cell, rn FROM (
            SELECT n.vec_id, n.nv, n.bid, c.cell,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY round(-list_dot_product(n.nv, c.c_nvec), 9), c.cell
                   ) AS rn
            FROM n CROSS JOIN cents c)
        WHERE rn <= {_SEM_NPROBE}
    ),
    assign AS (SELECT vec_id, nv, bid, cell FROM probes WHERE rn = 1),
    edges AS (
        SELECT DISTINCT pa.bid, pa.vec_id AS src, pb.vec_id AS dst
        FROM probes pa JOIN probes pb
          ON pa.bid = pb.bid AND pa.cell = pb.cell AND pa.vec_id <> pb.vec_id
        WHERE round(list_dot_product(pa.nv, pb.nv), 9) >= {_MP_TAU}
    ),
    reach(bid, a, b) AS (
        SELECT bid, src, dst FROM edges
        UNION
        SELECT r.bid, r.a, ed.dst
        FROM reach r JOIN edges ed ON ed.bid = r.bid AND ed.src = r.b
    ),
    rep AS (
        SELECT a.vec_id,
               least(a.vec_id, coalesce(min(r.b), a.vec_id)) AS rep_id
        FROM assign a LEFT JOIN reach r ON r.a = a.vec_id
        GROUP BY a.vec_id
    ),
    reps AS (
        SELECT s.* FROM assign s
        JOIN rep ON rep.vec_id = s.vec_id AND rep.rep_id = s.vec_id
    ),
    acc0 AS (SELECT * FROM reps WHERE bid = 0),
    acc1 AS (
        SELECT r.* FROM reps r WHERE r.bid = 1 AND NOT EXISTS (
            SELECT 1 FROM acc0 o
            JOIN probes po ON po.vec_id = o.vec_id
            JOIN probes pr ON pr.vec_id = r.vec_id AND pr.cell = po.cell
            WHERE round(list_dot_product(r.nv, o.nv), 9) >= {_MP_TAU})
    ),
    acc01 AS (SELECT * FROM acc0 UNION ALL SELECT * FROM acc1),
    acc2 AS (
        SELECT r.* FROM reps r WHERE r.bid = 2 AND NOT EXISTS (
            SELECT 1 FROM acc01 o
            JOIN probes po ON po.vec_id = o.vec_id
            JOIN probes pr ON pr.vec_id = r.vec_id AND pr.cell = po.cell
            WHERE round(list_dot_product(r.nv, o.nv), 9) >= {_MP_TAU})
    ),
    accepted AS (SELECT vec_id, cell FROM acc01
                 UNION ALL SELECT vec_id, cell FROM acc2)
    SELECT a.cell, CAST(a.vec_id AS BIGINT) AS vec_id,
           (SELECT string_agg(CAST(p.cell AS VARCHAR), ',' ORDER BY p.rn)
            FROM probes p WHERE p.vec_id = a.vec_id) AS probes
    FROM accepted a
    """


@register(
    "dedup_semantic_multiprobe_serve",
    oracle=_sem_multiprobe_oracle(),
    tags=("dedup", "semantic", "streaming", "multiprobe", "incremental"),
)
def q_dedup_semantic_multiprobe_serve(spark, sf_dir):
    """The multi-probe `SemanticDedupStore`'s accepted set, pinned
    row-by-row: the embeddings stream in as three deterministic md5-split
    micro-batches at the store's SHIPPING configuration (nprobe = 2,
    τ = 0.4 — the `dedup_cross_cell_audit` threshold, auto-sized seeded
    quantizer), and the serve emits every admitted vector with its
    primary cell AND its stored probe set (comma-joined in probe order).
    The DuckDB oracle replays the full multi-probe admission — probe
    sets by the serves' round-9 + min-cell order, within-batch
    components over SHARED-PROBED-CELL edges via a recursive closure,
    and the 3-stage ledger probe with the same shared-cell candidate
    rule — so value-hash parity pins the exact admit/reject verdict of
    every vector plus the probe metadata future ledger probes join
    through.

    Why multi-probe (VERDICT r12 item 1): the single-probe store's
    admission missed 61.9% of true τ=0.4 near-dup pairs whose endpoints
    land in different primary cells (measured, `dedup_cross_cell_audit`
    sf0.01); at the shipping nprobe=2 the audit's missed rate is 9.5%,
    at nprobe=4 zero.  Coverage here is exactly the audit's symmetric
    min_joint rule because BOTH sides' stored probe sets participate in
    the ledger join.

    Scale: probe sets are a zero-shuffle broadcast-model projection; the
    within-batch union-find is bounded by the micro-batch; ledger
    candidates are Σ over probed cells (never |corpus|²) with the
    nprobe² duplicate-pair factor absorbed by a distinct on the hit
    ids."""
    import atexit  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from ..functions.hashing import md5_60  # noqa: PLC0415
    from ..streaming.semantic_ingest import SemanticDedupStore  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    k_cells = auto_cells(emb)
    c = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    c = c.withColumn("_n", norm(F.col("v"))).select(
        "vec_id", F.transform("v", lambda x: x / F.col("_n")).alias("nv")
    )
    cents = c.filter(F.col("vec_id") < k_cells).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("nv").alias("c_nvec")
    )
    store_dir = tempfile.mkdtemp(prefix="sem_multiprobe_serve_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = SemanticDedupStore(
        spark, store_dir, cents, threshold=_MP_TAU, nprobe=_SEM_NPROBE
    )
    bid_col = F.pmod(md5_60(F.col("vec_id").cast("string")), F.lit(3))
    for bid in range(3):
        store.ingest_batch(emb.filter(bid_col == F.lit(bid)), bid)
    return store.serve().select(
        "cell",
        F.col("vec_id").cast("long").alias("vec_id"),
        F.array_join(
            F.transform("probe_cells", lambda x: x.cast("string")), ","
        ).alias("probes"),
    )
