"""Spark ML path: sanity + quality properties (model internals have no
SQL oracle, so these gate behavior instead of values)."""

from __future__ import annotations

from dic_a1_spark.operators import ml_ops
from tests.conftest import SF_SMOKE


def test_kmeans_clusters_all_vectors(spark):
    out = ml_ops.ml_kmeans_clusters(spark, SF_SMOKE)
    rows = out.collect()
    n_vecs = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(ml_ops.KMEANS_K))
    assert len(clusters) > 1, "degenerate clustering"


def test_kmeans_oracle_parity(spark):
    """The r11 hash gate, run in-suite: exact-integer centroid state
    makes the deterministic Lloyd's bit-restatable in DuckDB."""
    import sys

    sys.path.insert(0, "tests")
    from oracle_utils import compare

    compare(
        spark,
        ml_ops.ORACLES["ml_kmeans_clusters"],
        ml_ops.QUERIES["ml_kmeans_clusters"],
        SF_SMOKE,
        "ml_kmeans_clusters",
    )


def test_ml_minhash_agrees_with_exact_jaccard(spark):
    """Library-LSH pairs must be real near-dups above the join threshold
    (approxSimilarityJoin computes the EXACT distance for candidates, so
    the reported jaccard is trustworthy — only recall is approximate)."""
    ml_pairs = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in ml_ops.ml_minhash_neardups(spark, SF_SMOKE).collect()
    }
    assert ml_pairs, "no near-dup pairs found by ML MinHashLSH"
    for (d1, d2), j in ml_pairs.items():
        assert d1 < d2
        assert 0.5 - 1e-9 <= j <= 1.0


def test_minhash_coefficients_pinned(spark):
    """MINHASH_COEFFS (hardcoded in the DuckDB oracle) must equal the
    coefficients MinHashLSH(seed=SEED) actually draws — guards a Spark
    upgrade changing the RNG, which would silently fork the oracle.
    Solved from two singleton vectors: the hash is linear in the token
    index, so h(idx=0) = a + b and h(idx=1) = 2a + b determine (a, b)
    mod the prime, and the model's own range constraints (a in
    [1, p-1], b in [0, p-1)) make the solution unique."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import Vectors

    df = spark.createDataFrame(
        [
            (0, Vectors.sparse(4, [0], [1.0])),
            (1, Vectors.sparse(4, [1], [1.0])),
        ],
        ["id", "features"],
    )
    model = MinHashLSH(
        inputCol="features",
        outputCol="h",
        numHashTables=ml_ops.MINHASH_TABLES,
        seed=ml_ops.SEED,
    ).fit(df)
    rows = {r["id"]: [int(v.values[0]) for v in r["h"]]
            for r in model.transform(df).collect()}
    p = ml_ops.MINHASH_PRIME
    solved = []
    for j in range(ml_ops.MINHASH_TABLES):
        a = (rows[1][j] - rows[0][j]) % p
        b = (rows[0][j] - a) % p
        assert (a + b) % p == rows[0][j] and (2 * a + b) % p == rows[1][j]
        solved.append((a, b))
    assert tuple(solved) == ml_ops.MINHASH_COEFFS


def test_minhash_oracle_parity(spark):
    """The r9 hash gate, run in-suite: deterministic vocabulary +
    seed-pinned coefficients make the library LSH pair set exactly
    SQL-restatable."""
    import sys

    sys.path.insert(0, "tests")
    from oracle_utils import compare

    compare(
        spark,
        ml_ops.ORACLES["ml_minhash_neardups"],
        ml_ops.QUERIES["ml_minhash_neardups"],
        SF_SMOKE,
        "ml_minhash_neardups",
    )
