"""Similarity search over the `embeddings` table (vec_id, embedding:
array<float> (64-dim), label).

Baseline: brute-force cosine top-k — correct, O(Q x N), the yardstick.
Scale path: IVF coarse quantization (assign to nearest centroid, probe a
subset of inverted lists) — turns the candidate set from N into N/K per
probe; on a cluster the lists are co-partitioned by centroid so a probe
touches a bounded slice. All vector math is built-in higher-order
functions (zip_with + aggregate) on doubles — JVM-side, no UDFs.

Float discipline: dot products are sequential left-to-right folds in both
engines; outputs are rounded (4dp) and ranked by (rounded sim, id) so
cross-engine ordering is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from dic_a1_spark.sources.readers import load_table, table_rowcount

N_QUERIES = 10       # vec_id < 10 act as the query set
TOP_K = 5
IVF_K = 8            # first IVF_K vectors double as coarse centroids
IVF_NPROBE = 2


#: Embedding width per the corpus contract (TESTDATA.md).
EMBED_DIM = 64


def _dot_fold(a: Column, b: Column) -> Column:
    """Sequential fold dot-product over double-cast elements — the
    length-generic form. Higher-order functions are CodegenFallback
    (interpreted), so this costs ~6 us per 64-dim pair; per-PAIR hot
    paths use the Arrow batch twin (_dot_seq_batch) or, for short fixed
    widths, the unrolled hybrid (dim= below)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot_fixed(a: Column, b: Column, dim: int) -> Column:
    """Unrolled fixed-width dot: lit(0.0) + a1*b1 + a2*b2 + ... with
    left-associated addition — per element the EXACT IEEE-754 operation
    sequence of the _dot_fold accumulate ((0 + x0*y0) + x1*y1) + ..., so
    results are BIT-IDENTICAL (verified: 0 differing bit patterns over
    100K sf0.1 pairs), and the whole chain lives inside whole-stage
    codegen — no interpreted lambda per element, no Python boundary
    (guide §4.1). Callers must guard size(a) == size(b) == dim:
    element_at past the end throws under ANSI.

    r12 measurement note — WHY ONLY SHORT WIDTHS USE THIS: the unroll
    costs ~8 Catalyst nodes per term, and optimizer rule sweeps are
    linear in plan nodes, so a 64-wide unroll added 0.5-2.3 s of
    per-query PLANNING (measured: ivf_assignments executedPlan 0.51 s
    -> 2.8 s; ml_kmeans_clusters 4.1 s -> 11.8 s across its 4 round
    plans) while saving only ~2.5 us/pair at the executor — a net loss
    at any realistic pair volume per plan. At dim<=8 the tree is ~50
    nodes and the unroll is a pure win (embedding_pq_codes isolated
    median 5.97 s -> 3.10 s, the N x M x K assignment stage)."""
    acc: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + (
            F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        )
    return acc


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-order dot product. With `dim` (opt-in, short widths
    only — see _dot_fixed): unrolled codegen when both sides are exactly
    `dim` wide, interpreted fold otherwise (the branch predicate makes
    the hybrid total: NULL or odd-length arrays fall through to the fold
    and produce the value they always produced). Without `dim`: the
    length-generic interpreted fold, unchanged since r2."""
    if dim is None:
        return _dot_fold(a, b)
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim), _dot_fixed(a, b, dim)
    ).otherwise(_dot_fold(a, b))


# DoubleType() instance, not the "double" DDL string: the string form is
# parsed at decoration time and requires an active SparkSession, which
# breaks plain `import` of this module (e.g. pytest collection).
@pandas_udf(DoubleType())
def _dot_seq_batch(v1: pd.Series, v2: pd.Series) -> pd.Series:
    """Arrow-batched dot product with SEQUENTIAL accumulation order.

    Accumulates dimension-by-dimension across the whole batch
    (acc += a[:, i] * b[:, i]) — per pair this is the exact IEEE-754
    operation sequence of the _dot fold ((0 + x0*y0) + x1*y1) + ..., so
    results are BIT-IDENTICAL to the Column version (verified: 0 differing
    values over 2M pairs) while vectorizing across the batch. Exists
    because Spark higher-order functions are CodegenFallback — the
    interpreted fold costs ~6 us per 64-dim pair, which dominates every
    pair-scoring query; this runs ~100x faster per pair. Deliberately NOT
    np.dot/einsum: BLAS pairwise summation changes the rounding and would
    break value-hash parity with the DuckDB oracle."""
    if len(v1) == 0:
        return pd.Series(np.zeros(0, dtype=np.float64))
    a = np.stack(v1.to_numpy()).astype(np.float64)
    b = np.stack(v2.to_numpy()).astype(np.float64)
    return pd.Series(_fold_dot(a, b))


# --- the exact-fold kernel shared by every Arrow-batch vector scorer ---


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Sum over axis 1 of A * B, accumulated DIMENSION BY DIMENSION:
    ((0 + a0*b0) + a1*b1) + ... per output element — the IEEE-754
    operation sequence of the _dot fold and of DuckDB's
    list_dot_product, so batch sims are hash-equal to the oracle.
    Deliberately NOT np.dot/einsum: BLAS pairwise summation rounds
    differently.

    Axis 1 is the folded dimension and the other axes broadcast:
    (n, D) with (n, D) gives the row-wise dots (n,); (n, D, 1) with
    (1, D, k) gives the (n, k) dot matrix (see _fold_cosine)."""
    shape = np.broadcast_shapes(A.shape[:1] + A.shape[2:], B.shape[:1] + B.shape[2:])
    acc = np.zeros(shape, dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i] * B[:, i]
    return acc


def _fold_cosine(V: np.ndarray, C: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """(n, k) cosine matrix of V's rows against C's rows, given C's
    norms `cn`: fold dot / (sqrt(fold |v|^2) * cn), the _cosine_pre
    association. A zero-norm side divides 0/0 to NaN, which
    pandas->Arrow ships as NULL — DuckDB's division-by-zero result."""
    vn = np.sqrt(_fold_dot(V, V))
    return _fold_dot(V[:, :, None], C.T[None]) / (vn[:, None] * cn[None, :])


def _fold_self_cosine(V: np.ndarray) -> np.ndarray:
    """(m, m) cosine matrix of V's rows against each other, as
    _fold_cosine(V, V, norms) computes it. The dot matrix's diagonal IS
    each row's fold |v|^2 (same products, same order), so the norms
    cost no second pass over the block."""
    acc = _fold_dot(V[:, :, None], V.T[None])
    nr = np.sqrt(acc.diagonal())
    return acc / (nr[:, None] * nr[None, :])


def _collect_side(df: DataFrame) -> tuple[np.ndarray, np.ndarray] | None:
    """Collect a bounded (id, vector) frame — a codebook, a query set, a
    benchmark slice — to the driver: ids ascending (so every tie breaks
    to the lowest id) and the vectors stacked as a float64 matrix.
    None when the frame is empty: np.stack of nothing would raise on the
    driver at plan-build time (r10 empty-corpus probe)."""
    rows = df.collect()
    if not rows:
        return None
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    M = np.stack([np.asarray(rows[i][1], dtype=np.float64) for i in order])
    return ids[order], M


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _null_div(num: Column, den: Column) -> Column:
    """Cosine division with DuckDB's zero-denominator semantics: NULL.

    Rationale (round-9 zero-norm fuzz, tests/test_r9_oracle_fuzz.py):
    a zero-norm participant makes the cosine 0/0. DuckDB (1.0.0) maps
    ANY division by zero to NULL, and the Arrow-batched fast twins
    already ship numpy's NaN as NULL (pandas->Arrow treats float NaN
    as null) — but a raw JVM Column division under Spark 4's default
    ANSI mode does not even produce NaN: it THROWS DIVIDE_BY_ZERO and
    kills the job. ``try_divide`` is the ANSI-sanctioned escape and
    lands exactly on the oracle's semantics: NULL, which ranks LAST
    under ``ORDER BY sim DESC`` in both engines (ties then resolve on
    the id key). Using it at every cosine division makes
    exact == fast == oracle on corpora with zero-norm vectors, and is
    value-identical everywhere else. NaN INPUT components are out of
    contract (the embeddings schema is finite float32)."""
    return F.try_divide(num, den)


def cosine(a: Column, b: Column) -> Column:
    return _null_div(_dot(a, b), _norm(a) * _norm(b))


def _cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with PRE-COMPUTED norms: dot(a,b) / (na * nb).

    Per scored pair this evaluates ONE dot instead of three folds — norms
    are computed once per vector in a projection BELOW the join (a join
    boundary stops Catalyst from collapsing the projection into the
    per-pair expression), which is bit-exact with the oracle's
    dot/(sqrt(dot)*sqrt(dot)) shape since each norm is the identical
    sequential fold, just evaluated once. The dot itself is the
    Arrow-batched _dot_seq_batch (same accumulation order, ~100x faster
    than the interpreted HOF fold). Division via _null_div: a zero-norm
    side yields NULL, matching DuckDB and the numpy fast twins. (r12
    note: a 64-wide unrolled JVM dot was measured here and REJECTED —
    faster at the executor (~2.0 s vs 4.6 s over 2M pairs) but its
    ~520-node tree adds 0.5-2.3 s of Catalyst planning per query, a net
    loss for every registered caller; _dot_fixed docstring has the
    numbers.)"""
    return _null_div(_dot_seq_batch(a, b), na * nb)


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.round(_norm(F.col("embedding")), 4).alias("l2_norm"),
    )


def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-K neighbors for the query set. The query side is tiny ->
    broadcast; the candidate scan parallelizes over input splits; the only
    shuffle is the per-query top-k window over Q x N scored rows. At
    cluster scale Q x N is the thing to kill — see the IVF variant."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("nv"),
                _norm(F.col("embedding")).alias("nn"),
            )
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_pre(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: nearest of IVF_K centroids (the first IVF_K
    vectors serve as a deterministic codebook) per vector. Centroids are
    broadcast; assignment is a map-only argmax — the partitioning key for
    co-located inverted lists at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = e.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
    )
    scored = F.broadcast(cent).crossJoin(
        e.select(
            "vec_id",
            F.col("embedding").alias("v"),
            _norm(F.col("embedding")).alias("vn"),
        )
    ).select(
        "vec_id",
        "centroid_id",
        F.round(
            _cosine_pre(F.col("v"), F.col("cv"), F.col("vn"), F.col("cn")),
            4,
        ).alias("sim"),
    )
    # Argmax as a partial-aggregating MAX over struct(sim, -centroid_id):
    # lexicographic struct comparison IS orderBy(sim desc, centroid_id
    # asc) — sims compare via the same Double.compare semantics the
    # window sort used (a NULL sim loses under max exactly as desc's
    # default NULLS LAST ranked it; the id tiebreak negates the INTEGER
    # id, never the double, so +-0.0 sims keep their window ordering).
    # The K-way centroid fan-out collapses map-side before the exchange
    # and the window's sort disappears (r12, guide §2.3; see
    # pq._with_codes for the measured twin of this rewrite).
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("sim"),
                    (-F.col("centroid_id")).alias("neg_cid"),
                    F.col("centroid_id"),
                )
            ).alias("mx")
        )
        .select(
            "vec_id",
            F.col("mx.centroid_id").alias("centroid_id"),
            F.col("mx.sim").alias("centroid_sim"),
        )
    )


def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF: probe the IVF_NPROBE nearest centroid lists per query,
    brute-force only within those lists. Deterministic by construction
    (fixed first-K centroids, 4dp-rounded sims, explicit tiebreaks), so
    the DuckDB oracle restates the pipeline exactly; recall vs the
    brute-force baseline is asserted in tests/test_similarity.py."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = ivf_assignments(spark, sf_dir)
    cent = e.where(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    qprobe = (
        F.broadcast(q)
        .crossJoin(cent)
        .select(
            "query_id", "qv", "qn", "centroid_id",
            F.round(
                _cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                4,
            ).alias("csim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("centroid_id"))
    probes = (
        qprobe.withColumn("rnk", F.row_number().over(wq))
        .where(F.col("rnk") <= IVF_NPROBE)
        .select("query_id", "qv", "qn", "centroid_id")
    )
    lists = assign.join(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            _norm(F.col("embedding")).alias("nn"),
        ),
        assign.vec_id == F.col("neighbor_id"),
    ).select("centroid_id", "neighbor_id", "nv", "nn")
    scored = (
        probes.join(lists, "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_pre(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")),
                4,
            ).alias("sim"),
        )
        .distinct()  # a neighbor can appear via multiple probed lists
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.9,
    id_bound: int = 300,
) -> DataFrame:
    """TEST-ONLY ground truth: all-pairs embedding-cosine near-duplicates
    within a bounded id range. The registered semantic-dedup query is
    embedding_neardup_blocked below — this cross-join form exists solely
    so pytest can measure the blocked variant's recall exactly; it is NOT
    in QUERIES (an all-pairs crossJoin is the one shape that cannot
    survive 100 TB)."""
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < id_bound)
    a = e.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    return (
        a.crossJoin(b)
        .where(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.round(cosine(F.col("v1"), F.col("v2")), 4).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


# Blocked semantic dedup: assign every vector to its NEARDUP_NPROBE nearest
# centroids (multi-probe soft assignment), pair only within shared blocks.
# Join fan-out is bounded by the largest block, never N^2. On random 64-dim
# vectors cosine >= 0.9 literally never occurs (observed max 0.51 over all
# 124,750 sf0.01 pairs), so the registered threshold is the 99.99th
# percentile (0.4) to keep the driver correctness row non-vacuous; real
# corpora would run the same plan at 0.9.
NEARDUP_SIM = 0.4
NEARDUP_NPROBE = 3
# Sub-bucket factor for the within-block pair join: with few centroids the
# block key alone gives at most IVF_K-way parallelism for the (expensive)
# pair scoring; salting multiplies the key space so every core scores.
NEARDUP_SALTS = 8


def _ivf_multi_assign(e: DataFrame, nprobe: int, ivf_k: int = IVF_K) -> DataFrame:
    """(vec_id, centroid_id, cids, embedding, nrm) for the top-`nprobe`
    centroids per vector. Centroids broadcast; the embedding AND its
    precomputed L2 norm ride along so the blocked self-join below needs no
    extra id->vector join and scores each candidate pair with a single dot
    product (the standard IVF replicate-by-list trade: ~nprobe x vector
    bytes). `cids` is the vector's FULL sorted assignment set — the pair
    join uses it to keep each pair only in its lowest shared block, so no
    post-join distinct is needed. The collect_list window runs on the same
    vec_id partitioning as the rank window: no extra exchange."""
    cent = e.where(F.col("vec_id") < ivf_k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        _norm(F.col("embedding")).alias("cn"),
    )
    scored = F.broadcast(cent).crossJoin(
        e.select(
            "vec_id",
            F.col("embedding").alias("v"),
            _norm(F.col("embedding")).alias("vn"),
        )
    ).select(
        "vec_id",
        "centroid_id",
        "v",
        "vn",
        F.round(
            _cosine_pre(F.col("v"), F.col("cv"), F.col("vn"), F.col("cn")),
            4,
        ).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    wv = Window.partitionBy("vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= nprobe)
        .withColumn("cids", F.array_sort(F.collect_list("centroid_id").over(wv)))
        .select(
            "vec_id",
            "centroid_id",
            "cids",
            F.col("v").alias("embedding"),
            F.col("vn").alias("nrm"),
        )
    )


def embedding_neardup_blocked(
    spark: SparkSession,
    sf_dir: str,
    *,
    ivf_k: int = IVF_K,
    nprobe: int = NEARDUP_NPROBE,
    threshold: float = NEARDUP_SIM,
) -> DataFrame:
    """Scale-safe semantic dedup: IVF-blocked near-duplicate pairs at the
    fixed IVF_K codebook the oracle states.

    r12: now executes through the SAME block-local batch scorer as the
    data-sized-codebook twin (embedding_neardup_blocked_fast) — the
    guide-§8 shape that ships each vector to its blocks ONCE instead of
    shipping both vectors for every candidate pair through the Arrow
    boundary. The per-pair join form this replaces shipped ~2 x 64
    floats x ~4.5M joined rows per run (measured: the single most
    expensive bench query, 10-27 s at sf0.1 with GC-driven variance vs
    ~1.5 s for the batch twin); its JVM-expression implementation
    survives UNREGISTERED as embedding_neardup_blocked_exact, still
    pinned pair-for-pair against this query in tests/test_similarity.py
    (the certification the _fast twin always carried, now pointed at
    the exact form explicitly). Output is bit-identical by construction:
    shared fold-kernel sims (_fold_cosine), margin emission with
    Spark-side round(.,4) >= threshold, NULL/NaN rows excluded
    identically in both engines. Recall vs the all-pairs ground truth
    stays pinned >= 0.9 in tests/test_similarity.py."""
    return embedding_neardup_blocked_fast(
        spark, sf_dir, ivf_k=ivf_k, nprobe=nprobe, threshold=threshold
    )


def embedding_neardup_blocked_exact(
    spark: SparkSession,
    sf_dir: str,
    *,
    ivf_k: int = IVF_K,
    nprobe: int = NEARDUP_NPROBE,
    threshold: float = NEARDUP_SIM,
) -> DataFrame:
    """TEST-ONLY certification twin: the pair-per-row JVM-expression form
    of the blocked near-dup query (every candidate pair scored by one
    _cosine_pre expression after an equi-join on the block key). NOT
    registered since r12 — the registered query runs the block-local
    batch scorer (see embedding_neardup_blocked) — but kept as the
    independent implementation the parity pin in tests/test_similarity.py
    compares against, exactly as embedding_neardup_pairs stays as the
    unregistered all-pairs ground truth for the recall pin.

    Pairs are enumerated ONLY within shared centroid blocks (equi-join on
    centroid_id), then verified with exact cosine >= threshold. A pair
    sharing several blocks is kept only in its LOWEST shared block
    (checked map-side against the carried assignment sets) — exactly-once
    output with no post-join distinct shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    asg = _ivf_multi_assign(e, nprobe, ivf_k=ivf_k)
    # Deterministic bucket salt: side B lands in exactly one of
    # NEARDUP_SALTS sub-buckets (hash of its id — a stable fact column),
    # side A replicates across all of them, so every (id1, id2) pair still
    # meets exactly once but the join key space is IVF_K x NEARDUP_SALTS
    # instead of IVF_K — without this, 8 centroid blocks cap the scoring
    # stage at 8 parallel tasks no matter the cluster size.
    a = asg.select(
        "centroid_id", F.col("vec_id").alias("id1"), F.col("cids").alias("cids1"),
        F.col("embedding").alias("v1"), F.col("nrm").alias("n1"),
    ).withColumn(
        "bkt", F.explode(F.sequence(F.lit(0), F.lit(NEARDUP_SALTS - 1)))
    )
    b = asg.select(
        "centroid_id", F.col("vec_id").alias("id2"), F.col("cids").alias("cids2"),
        F.col("embedding").alias("v2"), F.col("nrm").alias("n2"),
    ).withColumn(
        "bkt", F.pmod(F.xxhash64("id2"), F.lit(NEARDUP_SALTS)).cast("int")
    )
    # Numbered repartition on the join key: the salted shuffle is only a
    # few MB, so AQE would coalesce it to ONE partition — correct for
    # shuffle bytes, wrong for a stage whose cost is per-PAIR scoring
    # (output rows >> input rows). An explicit numbered repartition is
    # exempt from AQE coalescing and keeps the scoring stage wide.
    a = a.repartition(64, "centroid_id", "bkt")
    b = b.repartition(64, "centroid_id", "bkt")
    return (
        a.join(b, ["centroid_id", "bkt"])
        .where(F.col("id1") < F.col("id2"))
        # lowest-shared-block dedup: this (pair, block) row survives only
        # if the current block is min(cids1 ∩ cids2) — each pair scored
        # and emitted exactly once, no distinct
        .where(
            F.col("centroid_id")
            == F.array_min(F.array_intersect(F.col("cids1"), F.col("cids2")))
        )
        .select(
            "id1", "id2",
            F.round(
                _cosine_pre(F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")), 4
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def _round4_ge_boundary(threshold: float) -> float:
    """Smallest double T with  round(s, 4) >= threshold  <=>  s >= T.

    Spark's round() applies HALF_UP to the EXACT binary value of the
    double (java BigDecimal), so for a threshold that is an exact
    multiple of 1e-4 the predicate is equivalent to exact(s) >=
    threshold - 0.00005 as REALS; this returns the smallest double at
    or above that real, letting batch numpy code decide the predicate
    bit-identically to the SPARK side without calling np.round
    (banker's rounding — the documented cross-engine hazard). DuckDB
    rounds via the scaled product (llround(s*1e4)) and can differ from
    the exact rule inside a ~1e-12-relative window around the decimal
    midpoint — the repo-wide residual every round-gated oracle shares,
    measured and documented in tests/test_round_boundary.py."""
    from fractions import Fraction

    units = int(round(threshold * 10**4))
    bound = Fraction(units * 10 - 5, 10**5)
    d = np.float64(bound)
    if Fraction(float(d)) >= bound:
        return float(d)
    return float(np.nextafter(d, np.inf))


def _batch_assign(e: DataFrame, *, ivf_k: int, nprobe: int) -> DataFrame:
    """(vec_id, centroid_id, sim, embedding): the batch IVF assigner,
    BIT-EQUAL to the JVM forms' (round(sim,4) DESC, centroid_id ASC)
    top-nprobe (_ivf_multi_assign; ivf_assignments at nprobe=1):

      * raw sims come from _fold_cosine, the exact fold's IEEE sequence;
      * the batch emits every centroid within 1e-3 of the row's
        nprobe-th-best raw sim (anything lower can never reach the
        rounded cut: round(s) <= s + 5e-5 < kth - 1e-3 + 5e-5
        < kth - 5e-5 <= round(kth)), plus every non-finite sim:
        pandas->Arrow ships NaN as NULL, and BOTH engines put NULL last
        in the descending cut (Spark desc = NULLS LAST; the oracle's
        0/0 division is NULL in DuckDB, NULLS LAST) — so a zero-norm
        VECTOR gets exactly the lowest-id blocks in both engines and a
        zero-norm CENTROID's block is empty in both;
      * ROUNDING AND RANKING ARE DELEGATED TO SPARK: the same
        F.round(.,4) + row_number window as the JVM form picks the
        winners from bit-identical inputs.

    ~nprobe+epsilon candidate rows per vector through one window — data
    shipped per VECTOR (the embedding rides along so block scoring
    needs no corpus re-join), never per (vector, centroid)."""
    import pyspark.sql.types as T

    cand_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.LongType()),
            T.StructField("raw_sim", T.DoubleType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    side = _collect_side(
        e.where(F.col("vec_id") < ivf_k).select("vec_id", "embedding")
    )
    if side is None:
        # No centroids <=> the embeddings table itself is empty
        # (centroids ARE corpus rows: vec_id < ivf_k).
        cand = e.sparkSession.createDataFrame([], cand_schema)
    else:
        cent_ids, C = side
        bc = e.sparkSession.sparkContext.broadcast(
            (cent_ids, C, np.sqrt(_fold_dot(C, C)))
        )

        def assign_batches(batches):
            ids_c, c_mat, c_nrm = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                emb = pdf["embedding"].to_numpy()
                sims = _fold_cosine(np.stack(emb).astype(np.float64), c_mat, c_nrm)
                if len(ids_c) > nprobe:
                    kth = -np.partition(-sims, nprobe - 1, axis=1)[:, nprobe - 1]
                    keep = sims >= (kth - 1e-3)[:, None]
                    keep[~np.isfinite(kth), :] = True
                else:
                    keep = np.ones(sims.shape, dtype=bool)
                keep |= ~np.isfinite(sims)  # ships as NULL; ranks last in both
                rows, cols = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy()[rows],
                        "centroid_id": ids_c[cols],
                        "raw_sim": sims[rows, cols],
                        "embedding": emb[rows],
                    }
                )

        cand = e.select("vec_id", "embedding").mapInPandas(assign_batches, cand_schema)
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    return (
        cand.withColumn("sim", F.round("raw_sim", 4))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= nprobe)
        .select("vec_id", "centroid_id", "sim", "embedding")
    )


def _block_partitions(e: DataFrame, *, ivf_k: int, nprobe: int) -> DataFrame:
    """(centroid_id, vec_id, embedding): every vector in its top-nprobe
    blocks, shuffled once on the block key. The repartition is numbered
    so AQE cannot narrow the scoring stage (its cost is per pair,
    invisible to byte stats)."""
    asg = _batch_assign(e, ivf_k=ivf_k, nprobe=nprobe)
    return asg.select("centroid_id", "vec_id", "embedding").repartition(
        max(64, ivf_k // 8), "centroid_id"
    )


def _partition_blocks(batches):
    """(block id, members) for each centroid block of one partition.
    One pandas groupby per PARTITION, not one applyInPandas call per
    block: ~1500 data-sized blocks paid ~8 ms of per-group Arrow/pandas
    overhead each while the per-block math is microseconds. Arrow batch
    boundaries can split a block, so the partition is materialized
    first (bounded: ~|corpus| x nprobe / partitions rows)."""
    pdfs = [p for p in batches if len(p)]
    if pdfs:
        yield from pd.concat(pdfs).groupby("centroid_id", sort=False)


def _block_self_sims(batches):
    """(block id, member ids ascending, S) for every block of >= 2
    members, S the members' self-cosine matrix on the exact fold (a
    zero-norm member's row and column are NaN)."""
    for blk, g in _partition_blocks(batches):
        if len(g) < 2:
            continue
        g = g.sort_values("vec_id")
        V = np.stack(g["embedding"].to_numpy()).astype(np.float64)
        yield blk, g["vec_id"].to_numpy(), _fold_self_cosine(V)


def embedding_neardup_blocked_fast(
    spark: SparkSession,
    sf_dir: str,
    *,
    ivf_k: int,
    nprobe: int = NEARDUP_NPROBE,
    threshold: float = NEARDUP_SIM,
) -> DataFrame:
    """Large-codebook IVF-blocked near-dup pairs — the 100 TB execution
    shape for semantic dedup, ORACLE-GATED since round 8.

    Scoring one pair per row (embedding_neardup_blocked_exact) ships
    BOTH vectors for every (vector, centroid) and every candidate pair
    through Arrow — measured 516 s at 100K vectors / K=1500, ~77 GB of
    transfer for assignment alone. This form ships data per vector /
    per block member while staying BIT-EQUAL to the SQL oracle:

      1. assignment: _batch_assign — batch fold sims, margin emission,
         Spark-side round+window cut;
      2. block scoring: mapInPandas over centroid-partitioned rows; per
         block ONE fold self-cosine matrix (_block_self_sims) gives
         every pairwise sim with the exact fold's IEEE sequence (same
         flop count as a BLAS matmul, ~2-3x slower on memory traffic —
         the price of the oracle hash gate on this entry); pairs within
         1e-3 of the threshold are emitted RAW and Spark's
         F.round(.,4) >= threshold decides (a NaN sim from a zero-norm
         member is excluded in both engines: numpy's >= drops it here,
         pandas->Arrow would ship it as NULL anyway, and the oracle's
         0/0 division is NULL in DuckDB);
      3. a pair sharing several blocks yields bit-identical raw sims in
         each, so the surviving duplicates collapse with one distinct.

    The oracle restates the pipeline with the codebook size computed
    from count(*) (the same max/min/floor-div arithmetic as
    embedding_neardup_blocked_fast_query)."""
    import pyspark.sql.types as T

    e = load_table(spark, sf_dir, "embeddings")
    asg = _block_partitions(e, ivf_k=ivf_k, nprobe=nprobe)
    pair_schema = T.StructType(
        [
            T.StructField("id1", T.LongType()),
            T.StructField("id2", T.LongType()),
            T.StructField("raw_sim", T.DoubleType()),
        ]
    )
    margin = threshold - 1e-3

    def score_partition(batches):
        out = []
        for _, ids, S in _block_self_sims(batches):
            i, j = np.triu_indices(len(ids), k=1)
            sij = S[i, j]
            keep = sij >= margin  # NaN excluded — see docstring
            if keep.any():
                out.append(
                    pd.DataFrame(
                        {
                            "id1": ids[i[keep]],
                            "id2": ids[j[keep]],
                            "raw_sim": sij[keep],
                        }
                    )
                )
        if out:
            yield pd.concat(out)

    return (
        asg.mapInPandas(score_partition, pair_schema)
        .select("id1", "id2", F.round("raw_sim", 4).alias("sim"))
        .where(F.col("sim") >= threshold)
        .distinct()  # a pair surfaces once per SHARED block; sims bit-equal
    )


def ivf_assignments_fast(
    spark: SparkSession, sf_dir: str, *, ivf_k: int = IVF_K
) -> DataFrame:
    """Batch IVF coarse quantizer: the shared batch assigner at
    nprobe=1, BIT-IDENTICAL to ivf_assignments at the scale execution
    shape (data shipped per VECTOR, not per (vector, centroid); the JVM
    form is 25.2 s / 3.9K vecs/s at 100K vectors and 516 s at K=1500).
    At probe 1 the batch's margin cut is the row max - 1e-3, and
    Spark's round + row_number picks the winner (see _batch_assign).
    Pinned value-equal to ivf_assignments at sf0.001/sf0.01/sf0.1 in
    tests/test_similarity.py and registered under the same DuckDB
    oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return _batch_assign(e, ivf_k=ivf_k, nprobe=1).select(
        "vec_id", "centroid_id", F.col("sim").alias("centroid_sim")
    )


def embedding_neardup_blocked_fast_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of the batch blocked near-dup: the codebook is
    SIZED FROM THE DATA exactly as tools/scale_bench.py sizes it
    (target ~200 resident vectors per block after multi-probe, floor
    IVF_K, driver-side codebook capped at 1500 rows — the documented
    collect bound). HASH-GATED since round 8: the oracle restates the
    same greatest/least/floor-div codebook arithmetic from count(*),
    and the pipeline's decisions are bit-pinned (see
    embedding_neardup_blocked_fast)."""
    e = load_table(spark, sf_dir, "embeddings")
    # Footer-metadata count, byte-equal to e.count() and the oracle's
    # count(*) — saves one corpus action per invocation (r9).
    n = table_rowcount(sf_dir, "embeddings")
    k = max(IVF_K, min(n, n * NEARDUP_NPROBE // 200, 1500))
    return embedding_neardup_blocked_fast(spark, sf_dir, ivf_k=k)


def _neardup_block_component_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    ivf_k: int,
    nprobe: int = NEARDUP_NPROBE,
    threshold: float = NEARDUP_SIM,
) -> DataFrame:
    """(doc_id, bucket) edges for group assignment: per centroid block,
    compute the pairwise sims ONCE and union-find the >= threshold
    adjacency LOCALLY, emitting one row per member of a >=2-vector local
    component (bucket = injective struct(block, local min id)).

    ORACLE-ALIGNED since round 8: the assignment is the bit-pinned
    _batch_assign (Spark-side round+window cut), and the local
    adjacency decides round(sim,4) >= threshold via the EXACT decimal
    boundary (s >= _round4_ge_boundary(threshold); a NaN sim — a
    zero-norm member — is NOT adjacent in either engine: numpy NaN
    fails >=, and DuckDB's 0/0 division is NULL, which fails the
    oracle's >= the same way) on fold sims — never np.round, whose
    banker's rounding is the documented cross-engine hazard.
    Block-local components therefore cover exactly the oracle's
    verified pair edges, and cross-block connectivity flows through
    multi-probe members during label propagation.

    Why not pair edges: on dup-heavy corpora the verified pair count is
    quadratic in cluster size (50 copies -> 1,225 pairs each; 4.56M pairs
    at the 100K amplified corpus, 113 s end-to-end for groups). The
    pair-graph's connected components are PRESERVED: every candidate pair
    lives inside some shared block, so block-local components cover
    exactly the verified pair edges. Output rows <= members x nprobe —
    linear."""
    import pyspark.sql.types as T

    e = load_table(spark, sf_dir, "embeddings")
    asg = _block_partitions(e, ivf_k=ivf_k, nprobe=nprobe)
    sim_floor = _round4_ge_boundary(threshold)

    edge_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField(
                "bucket",
                T.StructType(
                    [
                        T.StructField("block", T.LongType()),
                        T.StructField("root", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def comp_partition(batches):
        out_doc: list[np.ndarray] = []
        out_bucket: list[dict] = []
        for blk, ids, S in _block_self_sims(batches):
            m = len(ids)
            # Local components by vectorized min-label sweeps (converges
            # within component diameter) over the adjacency decided at
            # the exact boundary — a NaN sim is not adjacent (docstring).
            A = S >= sim_floor
            np.fill_diagonal(A, True)
            roots = np.arange(m)
            sentinel = np.iinfo(np.int64).max
            while True:
                candidates = np.where(A, roots[None, :], sentinel)
                new_roots = np.minimum(roots, candidates.min(axis=1))
                if np.array_equal(new_roots, roots):
                    break
                roots = new_roots
            sizes = np.bincount(roots, minlength=m)
            keep = sizes[roots] >= 2  # singleton components merge nothing
            out_doc.append(ids[keep])
            out_bucket.extend(
                {"block": int(blk), "root": int(r)} for r in ids[roots[keep]]
            )
        if not out_doc:
            return
        yield pd.DataFrame(
            {"doc_id": np.concatenate(out_doc), "bucket": out_bucket}
        )

    return asg.mapInPandas(comp_partition, edge_schema)


def embedding_neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, group_id): semantic-dedup GROUP assignment — connected
    components over the verified near-dup pair graph, completing the
    groups ladder (exact / token-set / MinHash / SimHash / embedding all
    have a linear-output group form).

    Execution never materializes pairs: each centroid block matmuls its
    similarity matrix once and union-finds the >= threshold adjacency
    locally (see _neardup_block_component_edges — identical components to
    the pair graph, since every candidate pair lives inside a shared
    block), then dedup.label_propagate stitches blocks through their
    shared multi-probe members and early-exits once labels stop changing.
    The r3 composition scored every pair exactly (69 s / 2K vectors) and
    the r4 pair-edge rebase was still output-quadratic on dup-heavy data
    (4.56M verified pairs at the 100K amplified corpus); this form is
    linear in members x nprobe end to end. Every merge passed the cosine
    >= threshold verification (4dp-rounded, the registered pair
    semantics); one row per vector regardless of cluster sizes.
    Components are computed on the CONTRACTED graph: nodes are the
    distinct block-components (buckets), adjacent when they share a
    multi-probe member. On dup-heavy corpora that graph is orders of
    magnitude smaller than the doc<->bucket edge list (100K amplified
    vectors -> 300K doc edges but only ~10K bucket nodes), so each
    min-label iteration shuffles the contracted edge set instead of every
    doc row — the bipartite label_propagate form measured 18 s of
    iterations here vs ~3 s contracted. Iterating to convergence on the
    contracted graph yields exactly the pair-graph components: every
    bucket root IS a member doc, so the component-min root equals the
    component-min doc id, and each doc takes the min over its buckets'
    converged labels (docs in no bucket keep their own id). HASH-GATED
    since round 8: assignment and adjacency decisions are bit-pinned
    (see _neardup_block_component_edges) and the oracle unrolls
    EMB_LP_ITERS min-label iterations over the verified pair graph (the
    lsh.dedup_minhash_md5_groups device); Spark iterates the contracted
    graph to convergence, the oracle past the measured convergence
    depth, so both equal the true pair-graph components."""
    from pyspark import StorageLevel

    e = load_table(spark, sf_dir, "embeddings")
    # Footer-metadata count, byte-equal to e.count() and the oracle's
    # count(*) — saves one corpus action per invocation (r9).
    n = table_rowcount(sf_dir, "embeddings")
    k = max(IVF_K, min(n, n * NEARDUP_NPROBE // 200, 1500))
    # Edges come out of the scoring stage in its (wide, per-block)
    # partitioning; squeeze to core-count partitions before the persist —
    # three consumers below each scan the cached frame, and task-launch
    # overhead on ~200 near-empty partitions was a measurable share of
    # the iteration loop.
    edges = (
        _neardup_block_component_edges(spark, sf_dir, ivf_k=k)
        .repartition(32)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Bucket adjacency via shared docs: each doc links the <= nprobe
    # buckets it belongs to pairwise, then distinct — the contraction.
    per_doc = edges.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("bucket")).alias("bs")
    )
    bucket_edges = (
        per_doc.where(F.size("bs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) ->"
                    " transform(slice(bs, i + 2, size(bs)),"
                    " y -> named_struct('src', x, 'dst', y))))"
                )
            ).alias("p")
        )
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .distinct()
    )
    # Both directions; persisted once self-loops are attached below (sym
    # itself has a single consumer now, so the persist lives on symx).
    sym = bucket_edges.unionByName(
        bucket_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    # Min-label propagation on the contracted graph, to convergence.
    # r13 restructure (guide §2.4): the adjacency carries an explicit
    # SELF-LOOP per bucket, so one round is a single join + groupBy —
    # min over the CLOSED neighborhood IS least(own label, neighbor min),
    # the exact per-round values of the former nbr-min + left-join form,
    # with the second join and the `_old` bookkeeping gone. Convergence
    # is detected from the label sum (exact decimal — labels are doc ids,
    # non-increasing per round, and at least one strictly decreases in
    # any non-converged round, so sum-unchanged <=> no label changed),
    # which rides the SAME action that materializes the round's lazy
    # checkpoint: one job per round instead of the former two.
    # (Pointer jumping / path compression was also implemented and
    # simulated on the real sf0.1 contracted graph: convergence stayed at
    # 8 rounds — the slow tail is scattered 1-2-bucket updates, not one
    # long pointer chain — while its extra groupBy+join slowed every
    # round. Rejected by measurement.)
    buckets = edges.select("bucket").distinct()
    symx = sym.unionByName(
        buckets.select(F.col("bucket").alias("src"), F.col("bucket").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = buckets.select(
        "bucket", F.col("bucket.root").alias("label")
    ).localCheckpoint()
    prev_sum = None
    for _ in range(50):
        new_labels = (
            symx.join(labels, symx.src == labels.bucket)
            .groupBy("dst")
            .agg(F.min("label").alias("label"))
            .select(F.col("dst").alias("bucket"), "label")
            .localCheckpoint(eager=False)  # materialized by the agg below
        )
        cur_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    doc_group = (
        edges.join(labels, "bucket")
        .groupBy("doc_id")
        .agg(F.min("label").alias("grp"))
    )
    return (
        e.select(F.col("vec_id").alias("doc_id"))
        .join(doc_group, "doc_id", "left")
        .select(
            F.col("doc_id").alias("vec_id"),
            F.coalesce("grp", F.col("doc_id")).alias("group_id"),
        )
    )


def label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-vector cohesion: average pairwise-free proxy
    (each vector's cosine to its label centroid), exact arithmetic via
    element-wise mean then dot. Demonstrates vector aggregation
    (posexplode -> per-dimension mean -> re-assemble)."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    cent = dims.groupBy("label", "pos").agg(
        (F.round(F.sum(F.col("x").cast("double")), 6) / F.count("*")).alias("cx")
    )
    cvec = cent.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "cx"))
        ).alias("pairs")
    ).select(
        "label", F.expr("transform(pairs, p -> p.cx)").alias("cv")
    )
    joined = e.join(cvec, "label").select(
        "vec_id",
        "label",
        F.round(
            cosine(F.col("embedding"), F.col("cv")), 4
        ).alias("centroid_sim"),
    )
    return joined


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embedding_norms": embedding_norms,
    "knn_cosine_bruteforce": knn_cosine_bruteforce,
    "ivf_assignments": ivf_assignments,
    "ivf_assignments_fast": ivf_assignments_fast,
    "knn_cosine_ivf": knn_cosine_ivf,
    "embedding_neardup_blocked": embedding_neardup_blocked,
    "embedding_neardup_blocked_fast": embedding_neardup_blocked_fast_query,
    "embedding_neardup_groups": embedding_neardup_groups,
    "label_centroid_sim": label_centroid_sim,
}

# Engine-neutral cosine for the oracle: identical sequential fold via
# list_reduce over the zipped products would be ideal; DuckDB 1.0 lacks
# list_reduce, so use list_dot_product / sqrt — both accumulate
# left-to-right over DOUBLE after an explicit element cast.
_COS = (
    "(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))))"
)

_COS_QN = _COS.format(a="q.embedding", b="n.embedding")
_COS_VC = _COS.format(a="v.embedding", b="c.embedding")
_COS_12 = _COS.format(a="a.embedding", b="b.embedding")
_COS_QC = _COS.format(a="q.embedding", b="c.embedding")

ORACLES: dict[str, str] = {
    "embedding_norms": """
        SELECT vec_id, label,
               CAST(len(embedding) AS INTEGER) AS dim,
               round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
        FROM embeddings
    """,
    "knn_cosine_bruteforce": f"""
        WITH scored AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   round({_COS_QN}, 4) AS sim
            FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
                   ) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= {TOP_K}
    """,
    "ivf_assignments": f"""
        WITH scored AS (
            SELECT v.vec_id, c.vec_id AS centroid_id,
                   round({_COS_VC}, 4) AS sim
            FROM embeddings v JOIN embeddings c ON c.vec_id < {IVF_K}
        ),
        ranked AS (
            SELECT vec_id, centroid_id, sim,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT vec_id, centroid_id, sim AS centroid_sim FROM ranked WHERE rnk = 1
    """,
    "embedding_neardup_blocked": f"""
        WITH scored AS (
            SELECT v.vec_id, c.vec_id AS centroid_id,
                   round({_COS_VC}, 4) AS sim
            FROM embeddings v JOIN embeddings c ON c.vec_id < {IVF_K}
        ),
        asg AS (
            SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
                       ) AS rnk
                FROM scored
            ) WHERE rnk <= {NEARDUP_NPROBE}
        ),
        blocked AS (
            SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
            FROM asg x JOIN asg y
              ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        )
        SELECT p.id1, p.id2, round({_COS_12}, 4) AS sim
        FROM blocked p
        JOIN embeddings a ON a.vec_id = p.id1
        JOIN embeddings b ON b.vec_id = p.id2
        WHERE round({_COS_12}, 4) >= {NEARDUP_SIM}
    """,
    # Restates the deterministic IVF pipeline (fixed first-K centroids,
    # rounded sims, explicit tiebreaks make it exactly reproducible).
    "knn_cosine_ivf": f"""
        WITH cent AS (
            SELECT vec_id AS centroid_id, embedding
            FROM embeddings WHERE vec_id < {IVF_K}
        ),
        asg AS (
            SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY round({_COS_VC}, 4) DESC, c.centroid_id ASC
                       ) AS rnk
                FROM embeddings v JOIN cent c ON TRUE
            ) WHERE rnk = 1
        ),
        probes AS (
            SELECT query_id, centroid_id FROM (
                SELECT q.vec_id AS query_id, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({_COS_QC}, 4) DESC, c.centroid_id ASC
                       ) AS rnk
                FROM embeddings q JOIN cent c ON TRUE
                WHERE q.vec_id < {N_QUERIES}
            ) WHERE rnk <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                   round({_COS_QN}, 4) AS sim
            FROM probes p
            JOIN asg a ON a.centroid_id = p.centroid_id
            JOIN embeddings q ON q.vec_id = p.query_id
            JOIN embeddings n ON n.vec_id = a.vec_id
            WHERE p.query_id <> a.vec_id
        )
        SELECT query_id, neighbor_id, sim, rank FROM (
            SELECT query_id, neighbor_id, sim,
                   CAST(row_number() OVER (
                       PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
                   ) AS INTEGER) AS rank
            FROM scored
        ) WHERE rank <= {TOP_K}
    """,
    # Per-dimension means round at 6dp (absorbing accumulation-order
    # noise), so the reassembled centroid is bit-identical both sides and
    # the cosine parity rule then applies unchanged.
    "label_centroid_sim": """
        WITH dims AS (
            SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        ),
        cent AS (
            SELECT label, pos, round(sum(x), 6) / count(*) AS cx
            FROM dims GROUP BY label, pos
        ),
        cvec AS (
            SELECT label, list(cx ORDER BY pos) AS cv FROM cent GROUP BY label
        )
        SELECT e.vec_id, e.label,
               round(
                 (list_dot_product(CAST(e.embedding AS DOUBLE[]), cv)
                  / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(cv, cv)))), 4) AS centroid_sim
        FROM embeddings e JOIN cvec USING (label)
    """,
}

# The matmul assignment is result-identical to the exact form (rounded-4dp
# ranking, ascending-id ties), so it shares the same oracle and gets the
# full hash gate rather than rows-only.
ORACLES["ivf_assignments_fast"] = ORACLES["ivf_assignments"]

# Ground-truth oracle for the TEST-ONLY all-pairs form (not registered).
NEARDUP_EXACT_ORACLE = f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round({_COS_12}, 4) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 300 AND b.vec_id < 300
      AND round({_COS_12}, 4) >= 0.9
"""


# --- round-8: oracles for the previously rows-only fast/groups entries ---
# The fast pair path and the groups path are now bit-pinned against SQL
# (assignment rounding/ranking delegated to Spark expressions, pair sims
# decided at the exact decimal boundary), so both get full value-hash
# gates. The codebook size is DATA-SIZED exactly as
# embedding_neardup_blocked_fast_query computes it — the oracle restates
# the same greatest/least/floor-div arithmetic from count(*).

# Unrolled min-label iterations for the groups oracle. Convergence on
# the driver corpora measured at 3 (sf0.001/sf0.01) and 8 (sf0.1)
# iterations; 16 gives 2x headroom, and tests/test_similarity.py pins
# the actual convergence depth under EMB_LP_ITERS.
EMB_LP_ITERS = 16

_FAST_PAIRS_SQL = f"""
        WITH kk AS (
            SELECT greatest({IVF_K}, least(count(*),
                       count(*) * {NEARDUP_NPROBE} // 200, 1500)) AS k
            FROM embeddings
        ),
        cent AS (
            SELECT c.vec_id AS centroid_id, c.embedding
            FROM embeddings c, kk WHERE c.vec_id < kk.k
        ),
        scored AS (
            SELECT v.vec_id, c.centroid_id, round({_COS_VC}, 4) AS sim
            FROM embeddings v JOIN cent c ON TRUE
        ),
        asg AS (
            SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id,
                       row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY sim DESC, centroid_id ASC) AS rnk
                FROM scored
            ) WHERE rnk <= {NEARDUP_NPROBE}
        ),
        blocked AS (
            SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
            FROM asg x JOIN asg y
              ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        )
        SELECT p.id1, p.id2, round({_COS_12}, 4) AS sim
        FROM blocked p
        JOIN embeddings a ON a.vec_id = p.id1
        JOIN embeddings b ON b.vec_id = p.id2
        WHERE round({_COS_12}, 4) >= {NEARDUP_SIM}
"""

ORACLES["embedding_neardup_blocked_fast"] = _FAST_PAIRS_SQL


def _neardup_groups_oracle() -> str:
    """Unrolled fixed-iteration min-label propagation over the verified
    fast-pair graph (the lsh.py dedup_minhash_md5_groups device):
    label(v) <- min(label(v), min neighbor labels), EMB_LP_ITERS times.
    Spark's block-local union-find + contracted stitching converges to
    the pair-graph components (every candidate pair lives inside a
    shared block), so both sides equal the true components once the
    unroll depth covers the min-label convergence (measured <= 8 on the
    driver corpora; 16 unrolled)."""
    parts = [
        f"""
        WITH pairs AS MATERIALIZED (SELECT id1, id2 FROM ({_FAST_PAIRS_SQL})),
        edges AS MATERIALIZED (
            SELECT id1 AS src, id2 AS dst FROM pairs
            UNION ALL
            SELECT id2 AS src, id1 AS dst FROM pairs
        ),
        lp0 AS MATERIALIZED (SELECT vec_id, vec_id AS label FROM embeddings)"""
    ]
    for k in range(1, EMB_LP_ITERS + 1):
        parts.append(
            f""",
        lp{k} AS MATERIALIZED (
            SELECT d.vec_id,
                   least(d.label, coalesce(m.minlab, d.label)) AS label
            FROM lp{k - 1} d
            LEFT JOIN (
                SELECT e.src AS vec_id, min(p.label) AS minlab
                FROM edges e JOIN lp{k - 1} p ON p.vec_id = e.dst
                GROUP BY e.src
            ) m ON m.vec_id = d.vec_id
        )"""
        )
    parts.append(
        f"\n        SELECT vec_id, label AS group_id FROM lp{EMB_LP_ITERS}"
    )
    return "".join(parts)


ORACLES["embedding_neardup_groups"] = _neardup_groups_oracle()
