"""Spark ML integration: the library path for LSH, and a deterministic
k-means codebook.

The hand-rolled operators elsewhere (operators/similarity.py IVF,
operators/dedup.py MinHash) show the algorithms as explicit DataFrame
plans; ml_minhash_neardups shows the same capability through spark.ml —
the route a production pipeline usually takes (Pipeline persistence,
mergeable models, distributed fit). ml_kmeans_clusters replaces the
spark.ml KMeans fit, whose k-means|| init is partition-dependent, with
an explicit Lloyd's plan.

Oracle status (the ledger, fully closed in round 11):
  * ml_minhash_neardups — HASH-GATED. MinHashLSHModel's hash family is
    fully determined by the seed: h_j(S) = min over token indices i of
    ((1 + i) * a_j + b_j) mod 2038074743, with (a_j, b_j) drawn from
    the seed-initialized RNG at fit time INDEPENDENT of the data (the
    model's randCoefficients). With the vocabulary index made
    deterministic (alphabetical — CountVectorizerModel.from_vocabulary
    instead of frequency-ordered CountVectorizer.fit, whose tie order
    is partition-dependent), every hash value, every candidate
    collision, and the strict dist < threshold filter of
    approxSimilarityJoin are restatable in SQL with the four (a_j, b_j)
    pairs as constants. tests/test_ml_ops.py pins the fitted model's
    coefficients to the hardcoded constants (solved from two singleton
    vectors — the hash is linear in the index), so a Spark upgrade that
    changes the RNG fails the pin loudly instead of silently forking
    the oracle. Since r11 the certification runs on a DETERMINISTIC
    doc slice (doc_id % 10 < 3 on BOTH engines): the full pipeline —
    tokenset collapse, vocabulary index, 4 minhashes, band collisions,
    strict distance filter, member expansion — is still value-gated
    end-to-end, but the identical-group pair expansion (quadratic in
    group size, 85K pairs / 163 s of sweep wall-time at sf0.1) no
    longer dominates the sweep budget.
  * ml_kmeans_clusters — HASH-GATED since r11 (retiring the registry's
    last rows-only row). The entry is now a DETERMINISTIC Lloyd's
    iteration in pure DataFrame ops — the explicit-plan sibling of the
    IVF first-K codebook (operators/similarity.py): seeds are the
    min(K, n) lowest-vec_id vectors, KMEANS_ITERS fixed assignment
    rounds, squared-L2 argmin on 4dp-rounded distances with
    lowest-cluster tiebreak. The one thing that made spark.ml KMeans
    un-restatable was FLOAT SUMMATION ORDER in the centroid update
    (treeAggregate is partition-dependent); here the centroid state is
    kept as EXACT INTEGER component sums (embeddings quantized once by
    trunc(x * 2^20) — a power-of-two scale is exact in doubles, and
    both engines truncate toward zero on the double->bigint cast), so
    the per-cluster aggregation is order-independent in both engines
    and the distance doubles derive from bit-identical integers with
    one fixed expression shape. Empty clusters DROP (the documented
    cluster-death variant; the oracle mirrors).

Scale notes: the Lloyd's entry is iterative map-reduce — per round one
broadcast of K x (DIM+1) longs and one exact-integer groupBy, linear
per iteration, no global sort except the seed top-K (WindowGroupLimit
pushes it to a per-partition top-K + 1-row merge); MinHashLSH
transform is a map-only signature computation with approxSimilarityJoin
doing the same band-bucket equi-join our hand-rolled LSH does.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.sources.readers import load_table

KMEANS_K = 8
SEED = 42

# MinHashLSH(seed=42, numHashTables=4) hash coefficients (a_j, b_j):
# h_j(S) = min_i ((1 + i) * a_j + b_j) mod HASH_PRIME over S's token
# indices. Data-independent (drawn from the seed at fit time); solved
# from two singleton vectors (the hash is linear in the index, so two
# evaluations determine (a, b) mod the prime) and pinned against the
# fitted model in tests/test_ml_ops.py.
MINHASH_PRIME = 2038074743
MINHASH_COEFFS = (
    (1562431131, 117392763),
    (1467211249, 102948884),
    (662969971, 2023087525),
    (595021506, 1519796918),
)
MINHASH_TABLES = len(MINHASH_COEFFS)
MINHASH_DIST = 0.5  # approxSimilarityJoin threshold (STRICT <)
# Loud driver-collect bound for the deterministic vocabulary (the same
# driver footprint CountVectorizer.fit itself has — spark.ml collects
# the vocabulary to build the model either way).
_VOCAB_CAP = 2_000_000


#: Fixed Lloyd's assignment rounds (KMEANS_ITERS assignments, with a
#: centroid update between consecutive rounds).
KMEANS_ITERS = 4
#: Power-of-two quantization scale: x * 2^20 is EXACT in doubles, so the
#: only lossy step is the final truncation — identical in both engines.
KMEANS_SCALE = 1 << 20
#: Embedding dimensionality (the corpus contract; see TESTDATA.md).
KMEANS_DIM = 64


def _kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, xq: array<bigint>) — embeddings quantized to exact
    integers so every downstream aggregation is order-independent.
    float32 -> double is exact, the power-of-two scale is exact, and
    Spark's double->bigint cast truncates toward zero exactly like the
    oracle's CAST(trunc(...) AS BIGINT)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: (x * F.lit(float(KMEANS_SCALE))).cast("bigint"),
        ).alias("xq"),
    )


def _fold_dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential left-to-right double fold (the similarity._dot shape)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _kmeans_dist(xq: F.Column, s: F.Column, n: F.Column, c2n2: F.Column) -> F.Column:
    """4dp-rounded squared-L2 distance to the centroid s/n, minus the
    ||x||^2 term (common to every cluster, so dropped from the argmin):

        d = ((-2 * dot(xq, s)) / n) + (dot(s, s) / (n * n))

    s and n are exact integers; the dots and divisions are doubles with
    ONE fixed association shape, mirrored verbatim in the oracle SQL
    (list_dot_product accumulates left-to-right exactly like the fold —
    the operators/similarity.py parity precedent). The per-pair dot runs
    in the Arrow-batched _dot_seq_batch (bit-identical IEEE sequence,
    ~100x the interpreted HOF fold — this is the K x n hot path); the
    centroid self-term dot(s,s)/n^2 depends only on the K-row state, so
    it is computed ONCE per centroid (c2n2) and joined in. (r12 note: a
    64-wide unrolled JVM dot was measured here and REJECTED — it removes
    the ArrowEvalPython node but its ~520-node expression tree adds
    ~2 s of Catalyst planning per round plan, x4 round plans per run:
    ml_kmeans_clusters 5.9 s -> 13.7 s end-to-end: optimizer rule
    sweeps are linear in plan nodes.)"""
    from dic_a1_spark.operators.similarity import _dot_seq_batch

    dot1 = _dot_seq_batch(xq.cast("array<double>"), s.cast("array<double>"))
    return F.round((F.lit(-2.0) * dot1) / n.cast("double") + c2n2, 4)


def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, cluster): deterministic Lloyd's k-means — the
    trained-codebook path of the IVF index, as an explicit DataFrame plan
    (module docstring has the full determinism argument).

    Shape per round: broadcast K x (DIM+1) longs -> per-vector argmin
    over K literal-free centroid rows -> exact-integer groupBy(cluster).
    localCheckpoint between rounds truncates the iterative lineage (the
    label_propagate precedent, dedup.py:428). Empty corpus falls through
    naturally: no seeds -> empty crossJoin -> empty result, no
    driver-side collect to crash (r10 empty-corpus class)."""
    vecs = _kmeans_quantized(spark, sf_dir)

    def with_self_term(state: DataFrame) -> DataFrame:
        # dot(s,s)/(n*n) once per centroid: K rows, so the interpreted
        # fold is free here; the K x n pair path below uses the Arrow
        # batch dot (identical IEEE sequence).
        nd = F.col("n").cast("double")
        return state.withColumn("c2n2", _fold_dot(F.col("s"), F.col("s")) / (nd * nd))

    seed_w = Window.orderBy("vec_id")
    state = with_self_term(
        vecs.withColumn("rn", F.row_number().over(seed_w))
        .where(F.col("rn") <= KMEANS_K)
        .select(
            (F.col("rn") - 1).cast("int").alias("cluster"),
            F.col("xq").alias("s"),
            F.lit(1).cast("bigint").alias("n"),
        )
        .localCheckpoint()
    )
    # Argmin as a partial-aggregating MIN over struct(d, cluster[, xq]) —
    # lexicographic struct comparison IS orderBy(d asc, cluster asc) with
    # (d, cluster) unique per vector, so the winner is identical to the
    # row_number() window this replaces (r12, VERDICT r11 item 7 /
    # guide §2.3 "aggregate before you shuffle"): the K-way fan-out now
    # collapses MAP-SIDE (each vector's K scored rows are partition-local
    # by construction — they come from one crossJoin input row), so the
    # exchange carries one row per vector instead of K, and the window's
    # sort disappears. xq rides in the struct only on rounds that still
    # need it for the centroid update; the final round ships (d, cluster)
    # alone.
    def _argmin(scored: DataFrame, with_xq: bool) -> DataFrame:
        fields = [F.col("d"), F.col("cluster")] + (
            [F.col("xq")] if with_xq else []
        )
        picked = scored.groupBy("vec_id", "label").agg(
            F.min(F.struct(*fields)).alias("m")
        )
        cols = ["vec_id", "label"] + (["m.xq"] if with_xq else [])
        return picked.select(*cols, F.col("m.cluster").alias("cluster"))

    assigned = None
    for it in range(KMEANS_ITERS):
        assigned = _argmin(
            vecs.crossJoin(F.broadcast(state)).withColumn(
                "d",
                _kmeans_dist(
                    F.col("xq"), F.col("s"), F.col("n"), F.col("c2n2")
                ),
            ),
            with_xq=it < KMEANS_ITERS - 1,
        )
        if it < KMEANS_ITERS - 1:
            state = with_self_term(
                assigned.groupBy("cluster")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.sum(F.element_at("xq", i + 1)).alias(f"s{i}")
                        for i in range(KMEANS_DIM)
                    ],
                )
                .select(
                    "cluster",
                    F.array(*[F.col(f"s{i}") for i in range(KMEANS_DIM)]).alias("s"),
                    "n",
                )
                .localCheckpoint()
            )
    return assigned.select("vec_id", "label", "cluster")


def ml_minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml MinHashLSH near-dup pairs over binarized token features —
    approxSimilarityJoin on Jaccard distance. The library twin of
    operators/dedup.py's hand-rolled banding.

    Identical token SETS are collapsed to one representative before the
    LSH join and the pair list is expanded afterwards (cross-group
    member pairs inherit the reps' jaccard; within-group pairs are 1.0
    by construction). Jaccard depends only on the token set, and
    identical vectors collide in every hash table, so the emitted pair
    set is EXACTLY what the uncollapsed join produces — but the join
    never sees K identical vectors in one bucket (K^2 x numHashTables
    candidate rows each carrying two sparse vectors; the sf0.1 corpus
    has a 248-member identical group, which made the uncollapsed form a
    270 s query). Exact-dedup-before-near-dup is also the production
    admission order (operators/incremental.py), so the demo now shows
    the shape a 100 TB pipeline actually runs.

    HASH-GATED since round 9: the vocabulary index is DETERMINISTIC
    (alphabetical, CountVectorizerModel.from_vocabulary) instead of
    CountVectorizer.fit's frequency order (whose tie order is
    partition-dependent), which makes every minhash value a pure
    function of (token set, seed) — the oracle restates the band
    collisions with the model's seed-derived coefficients as constants
    (MINHASH_COEFFS, pinned in tests/test_ml_ops.py) and the exact
    STRICT keyDistance filter (dist < 0.5, verified empirically: an
    exactly-0.5-distance pair is NOT emitted). Vocabulary sort parity:
    Python sorted() orders by code point, DuckDB ORDER BY by UTF-8
    bytes — identical orders, UTF-8 preserves code-point order."""
    from pyspark.ml.feature import CountVectorizerModel, MinHashLSH

    from dic_a1_spark.functions.text import tokens_distinct

    d = load_table(spark, sf_dir, "documents")
    # Deterministic certification slice (r11): the full pipeline is still
    # value-gated end-to-end, but the quadratic identical-group pair
    # expansion no longer dominates the sweep budget (was 163 s / 19% of
    # total sf0.1 sweep wall-time). Same predicate in the oracle.
    d = d.where(F.col("doc_id") % 10 < 3)
    toks = d.select(
        "doc_id", F.filter(tokens_distinct(F.col("text")), lambda w: w != "").alias("toks")
    ).where(F.size("toks") > 0)
    from pyspark import StorageLevel
    from pyspark.sql import Window

    # Canonical token-set key; one representative (min doc_id) per set.
    keyed = toks.withColumn(
        "gkey", F.md5(F.to_json(F.array_sort("toks")))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    members = keyed.select("gkey", "doc_id")
    w = Window.partitionBy("gkey").orderBy("doc_id")
    reps = (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("gkey", "toks")
    )
    # Deterministic vocabulary: every distinct token, alphabetical.
    # Driver-bounded exactly like CountVectorizer.fit's own vocabulary
    # collect; the limit(cap+1) bounds what the driver materializes and
    # the over-cap check fails LOUDLY (the embdecontam guard pattern).
    vocab_rows = (
        reps.select(F.explode("toks").alias("t"))
        .distinct()
        .limit(_VOCAB_CAP + 1)
        .collect()
    )
    if len(vocab_rows) > _VOCAB_CAP:
        raise ValueError(
            f"ml_minhash_neardups: vocabulary exceeds the documented "
            f"driver bound ({_VOCAB_CAP}) — shard the corpus or raise "
            f"the cap deliberately"
        )
    vocab = sorted(r["t"] for r in vocab_rows)
    if not vocab:
        # Empty/token-free corpus: CountVectorizerModel.from_vocabulary
        # raises on an empty list (r10 empty-corpus probe). No tokens ->
        # no candidate pairs; emit the empty pair table.
        import pyspark.sql.types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc1", T.LongType()),
                    T.StructField("doc2", T.LongType()),
                    T.StructField("jaccard", T.DoubleType()),
                ]
            ),
        )
    cv = CountVectorizerModel.from_vocabulary(
        vocab, inputCol="toks", outputCol="features", binary=True
    )
    # Persist the vectorized frame: approxSimilarityJoin references it as
    # BOTH join sides and the LSH fit scans it again — unpersisted, the
    # tokenize -> vectorize chain re-runs three times.
    feats = (
        cv.transform(reps)
        .select("gkey", "features")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lsh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=MINHASH_TABLES,
        seed=SEED,
    ).fit(feats)
    rep_pairs = (
        lsh.approxSimilarityJoin(feats, feats, MINHASH_DIST, distCol="jaccard_dist")
        .where(F.col("datasetA.gkey") < F.col("datasetB.gkey"))
        .select(
            F.col("datasetA.gkey").alias("g1"),
            F.col("datasetB.gkey").alias("g2"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 4).alias("jaccard"),
        )
    )
    # Expand: cross-group member pairs (both orders collapse to
    # doc1 < doc2; the g1 < g2 filter already made group pairs unique) …
    cross = (
        rep_pairs.join(members.withColumnRenamed("gkey", "g1"), "g1")
        .withColumnRenamed("doc_id", "da")
        .join(
            members.withColumnRenamed("gkey", "g2").withColumnRenamed(
                "doc_id", "db"
            ),
            "g2",
        )
        .select(
            F.least("da", "db").alias("doc1"),
            F.greatest("da", "db").alias("doc2"),
            "jaccard",
        )
    )
    # … plus within-group pairs: identical sets, jaccard exactly 1.0.
    m2 = members.withColumnRenamed("doc_id", "db")
    within = (
        members.join(m2, "gkey")
        .where(F.col("doc_id") < F.col("db"))
        .select(
            F.col("doc_id").alias("doc1"),
            F.col("db").alias("doc2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # HASH-GATED since r11: deterministic Lloyd's with exact-integer
    # centroid state — see the module docstring ledger.
    "ml_kmeans_clusters": ml_kmeans_clusters,
    # HASH-GATED since r9 (deterministic vocabulary + seed-pinned
    # coefficients — see the module docstring); certification slice r11.
    "ml_minhash_neardups": ml_minhash_neardups,
}

from dic_a1_spark.config import duckdb_tokens_sql  # noqa: E402

_COEFF_VALUES = ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(MINHASH_COEFFS)
)

# Restates the whole library pipeline: tokenset collapse -> alphabetical
# vocabulary index -> 4 seed-pinned minhashes -> band-collision
# candidates -> STRICT keyDistance filter -> member expansion. Two
# engine-parity facts carry it: (1) equal minhash in table j forces the
# SAME argmin token (a != 0 and vocab < prime make the hash injective on
# indices), so every candidate pair shares >= 1 token and union > 0;
# (2) round/div shapes restate Spark's 1.0 - (1 - i/u) association
# exactly (all counts integral < 2^53, so the casts are exact).
ORACLES: dict[str, str] = {
    "ml_minhash_neardups": f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   list_distinct({duckdb_tokens_sql()}) AS toks
            FROM documents
            WHERE doc_id % 10 < 3
        ),
        nonempty AS (
            SELECT doc_id,
                   md5(coalesce(array_to_string(list_sort(toks), ' '),
                                '')) AS gkey,
                   toks
            FROM doc_toks WHERE len(toks) > 0
        ),
        members AS (SELECT gkey, doc_id FROM nonempty),
        rep_tok AS (
            SELECT DISTINCT gkey, t.token
            FROM nonempty, unnest(toks) AS t(token)
        ),
        sizes AS (SELECT gkey, count(*) AS n FROM rep_tok GROUP BY gkey),
        vocab AS (
            SELECT token, row_number() OVER (ORDER BY token) - 1 AS idx
            FROM (SELECT DISTINCT token FROM rep_tok)
        ),
        hashes AS (
            SELECT r.gkey, c.j,
                   min(((1 + v.idx) * c.a + c.b) % {MINHASH_PRIME}) AS h
            FROM rep_tok r
            JOIN vocab v USING (token)
            CROSS JOIN (VALUES {_COEFF_VALUES}) AS c(j, a, b)
            GROUP BY r.gkey, c.j
        ),
        cand AS (
            SELECT DISTINCT h1.gkey AS g1, h2.gkey AS g2
            FROM hashes h1
            JOIN hashes h2 ON h1.j = h2.j AND h1.h = h2.h
            WHERE h1.gkey < h2.gkey
        ),
        inter AS (
            SELECT c.g1, c.g2, count(*) AS i
            FROM cand c
            JOIN rep_tok r1 ON r1.gkey = c.g1
            JOIN rep_tok r2 ON r2.gkey = c.g2 AND r2.token = r1.token
            GROUP BY c.g1, c.g2
        ),
        rep_pairs AS (
            SELECT g1, g2,
                   round(1.0 - (1.0 - CAST(i AS DOUBLE)
                                / CAST(s1.n + s2.n - i AS DOUBLE)),
                         4) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.gkey = g1
            JOIN sizes s2 ON s2.gkey = g2
            WHERE (1.0 - CAST(i AS DOUBLE)
                   / CAST(s1.n + s2.n - i AS DOUBLE)) < {MINHASH_DIST}
        ),
        cross_pairs AS (
            SELECT least(ma.doc_id, mb.doc_id) AS doc1,
                   greatest(ma.doc_id, mb.doc_id) AS doc2,
                   p.jaccard
            FROM rep_pairs p
            JOIN members ma ON ma.gkey = p.g1
            JOIN members mb ON mb.gkey = p.g2
        ),
        within_pairs AS (
            SELECT m1.doc_id AS doc1, m2.doc_id AS doc2,
                   CAST(1.0 AS DOUBLE) AS jaccard
            FROM members m1
            JOIN members m2
              ON m1.gkey = m2.gkey AND m1.doc_id < m2.doc_id
        )
        SELECT doc1, doc2, jaccard FROM cross_pairs
        UNION ALL
        SELECT doc1, doc2, jaccard FROM within_pairs
    """,
}


def _kmeans_oracle_sql() -> str:
    """Unrolled deterministic-Lloyd's restatement. Every value-bearing
    step mirrors the Spark plan bit-for-bit: trunc(x * 2^20) -> BIGINT
    quantization (both engines truncate toward zero), exact integer
    component sums (DuckDB sums to HUGEINT, cast back — both exact), and
    list_dot_product's left-to-right double accumulation matching the
    F.aggregate fold (the similarity.py parity precedent). Empty
    clusters vanish from the state CTE exactly as they vanish from the
    Spark groupBy."""
    dist = (
        "round(((-2.0 * list_dot_product(CAST(v.xq AS DOUBLE[]),"
        " CAST(c.s AS DOUBLE[]))) / CAST(c.n AS DOUBLE))"
        " + (list_dot_product(CAST(c.s AS DOUBLE[]), CAST(c.s AS DOUBLE[]))"
        " / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE))), 4)"
    )
    parts = [
        f"""
        WITH emb AS (
            SELECT vec_id, label,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CAST(trunc(x * {float(KMEANS_SCALE)}) AS BIGINT)) AS xq
            FROM embeddings
        ),
        dims AS (SELECT unnest(generate_series(1, {KMEANS_DIM})) AS i),
        st0 AS (
            SELECT CAST(rn - 1 AS INTEGER) AS cluster, xq AS s,
                   CAST(1 AS BIGINT) AS n
            FROM (SELECT xq, row_number() OVER (ORDER BY vec_id) AS rn
                  FROM emb)
            WHERE rn <= {KMEANS_K}
        )"""
    ]
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(
            f""",
        asg{t} AS (
            SELECT vec_id, label, xq, cluster FROM (
                SELECT v.vec_id, v.label, v.xq, c.cluster,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {dist} ASC, c.cluster ASC
                       ) AS rnk
                FROM emb v JOIN st{t - 1} c ON TRUE
            ) WHERE rnk = 1
        )"""
        )
        if t < KMEANS_ITERS:
            parts.append(
                f""",
        st{t} AS (
            SELECT cluster, list(s_i ORDER BY i) AS s, max(nm) AS n
            FROM (
                SELECT a.cluster, d.i,
                       CAST(sum(a.xq[d.i]) AS BIGINT) AS s_i,
                       CAST(count(*) AS BIGINT) AS nm
                FROM asg{t} a, dims d
                GROUP BY a.cluster, d.i
            ) GROUP BY cluster
        )"""
            )
    parts.append(
        f"\n        SELECT vec_id, label, cluster FROM asg{KMEANS_ITERS}"
    )
    return "".join(parts)


ORACLES["ml_kmeans_clusters"] = _kmeans_oracle_sql()
