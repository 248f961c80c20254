"""Embedding quantization: symmetric per-vector int8 compression and
retrieval over the quantized vectors.

At 100 TB / billions of vectors, fp32 embeddings are the storage AND
shuffle bottleneck of every ANN stage — int8 symmetric quantization cuts
both by 4x and turns similarity scoring into integer arithmetic (exact,
order-independent, SIMD-friendly on every engine). This module implements
the standard absmax scheme (scale = max|x| / 127, q = round(x / scale))
as pure Column expressions, map-only per vector; quantized kNN scores
in Arrow batches, with no shuffle until the (tiny) top-k window.

Oracle posture: everything here is FULLY value-hash verifiable, unlike
float ANN variants — quantized dot products are integer sums (exact in
any engine), and the only floats (scale, cosine) are single IEEE-754
division/sqrt chains both engines execute identically. The reference
engine has no analog (its surface ends at the chi-square pipeline,
SURVEY.md §2); house rules follow operators/similarity.py.

Scale notes:
  - quantization is embarrassingly parallel (one map pass, no shuffle;
    at cluster scale it runs fused into the scan projection);
  - quantized kNN keeps the broadcast-queries/scan-candidates shape of
    knn_cosine_bruteforce but moves 4x less data and scores with integer
    MACs — the standard memory-bound-ANN win. The IVF/blocked variants in
    operators/similarity.py compose with it unchanged (quantize after
    block assignment);
  - the error certificate (|x - q*scale| <= scale/2) is the per-vector
    guarantee a pipeline asserts before swapping fp32 retrieval for int8.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.operators.similarity import N_QUERIES, TOP_K
from dic_a1_spark.sources.readers import load_table

# int8 symmetric absmax range. 127 (not 128) so the scheme is symmetric:
# q in [-127, 127], scale = max|x| / 127.
Q_MAX = 127


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _scale(v: Column) -> Column:
    """absmax / 127, with an exact 1.0 fallback for all-zero vectors so
    x / scale never divides by zero (both engines take the same branch)."""
    max_abs = F.array_max(F.transform(v, F.abs))
    return F.when(max_abs > 0, max_abs / F.lit(float(Q_MAX))).otherwise(F.lit(1.0))


def _quantize(v: Column, scale: Column) -> Column:
    """q_i = floor(x_i / scale + 0.5) — explicit round-half-up, identical
    IEEE-754 op sequence in Spark and DuckDB (F.round/duckdb round differ
    in half-rule, floor(+0.5) does not)."""
    return F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))


def _with_quantized(e: DataFrame) -> DataFrame:
    v = _as_double(F.col("embedding"))
    return e.withColumn("scale", _scale(v)).withColumn(
        "qvec", _quantize(v, F.col("scale"))
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector absmax int8 quantization: scale, quantized vector, and
    the saturation count (elements at +/-127 — exactly the absmax
    elements unless the vector is all-zero). Map-only; no shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _with_quantized(e)
    return q.select(
        "vec_id",
        F.round("scale", 8).alias("scale_r"),
        # Space-joined string, not array<int>: the driver's pandas
        # canonicalizer cannot hash list cells (the doc_pack_concat red
        # row); element ORDER is the vector layout, so no sorting.
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), " "
        ).alias("qvec"),
        F.size(F.filter("qvec", lambda x: F.abs(x) == Q_MAX)).alias("n_sat"),
    )


def quantize_error_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarantee a pipeline asserts before swapping fp32 for int8
    retrieval: round-half-up keeps every element within half a
    quantization step of the original (|x - q*scale| <= scale/2, with
    one ulp of slack for the division round-trip). max() over elements
    is order-independent, so the emitted doubles are engine-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    q = _with_quantized(e)
    err = F.array_max(
        F.zip_with(
            _as_double(F.col("embedding")),
            F.col("qvec"),
            lambda x, qi: F.abs(x - qi.cast("double") * F.col("scale")),
        )
    )
    bound = F.col("scale") * F.lit(0.5) * F.lit(1.0 + 1e-9)
    return q.select(
        "vec_id",
        F.round(err, 8).alias("max_abs_err_r"),
        (err <= bound).alias("within_half_step"),
    )


def knn_cosine_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-K retrieval over the QUANTIZED vectors: integer dot
    products and integer self-norms, one float division at the end —
    the re-rank stage of a 100 TB ANN pipeline, which moves int8
    payloads and scores with integer MACs. The query side (vec_id <
    N_QUERIES) is collected and broadcast; candidates stream through
    Arrow batches, one exact int64 matmul per batch.

    Integer dots and self-norms are exact in any summation order, and
    the single float chain dot / (sqrt(na) * sqrt(nb)) is the same IEEE
    op sequence as the oracle's, so raw_sim is bit-identical. Per batch
    only the top TOP_K rows per query (by the final ordering: raw_sim
    desc, neighbor_id asc) are emitted — the global top-K is a subset
    of the union of batch top-Ks — and ROUNDING AND RANKING ARE
    DELEGATED TO SPARK. Zero-norm vectors are dropped on both sides
    (the oracle's qq > 0): an all-zero embedding would yield NaN
    similarity, where Spark's NaN ordering (greatest) and DuckDB's
    diverge."""
    import pyspark.sql.types as T

    e = load_table(spark, sf_dir, "embeddings")
    qz = _with_quantized(e).select("vec_id", "qvec")
    q_rows = qz.where(F.col("vec_id") < N_QUERIES).collect()
    if not q_rows:
        # Empty query collect <=> empty embeddings table (queries are
        # corpus rows); np.stack([]) raises driver-side (r10
        # empty-corpus probe). Schema matches the final select (rnk is
        # row_number's INT).
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", T.LongType()),
                    T.StructField("neighbor_id", T.LongType()),
                    T.StructField("int_dot", T.LongType()),
                    T.StructField("sim_q8", T.DoubleType()),
                    T.StructField("rnk", T.IntegerType()),
                ]
            ),
        )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qvec"], dtype=np.int64) for r in q_rows])
    na = (Q * Q).sum(axis=1)
    keep = na > 0  # zero-norm guard: the oracle's qq > 0
    q_ids, Q, na = q_ids[keep], Q[keep], na[keep]
    sq_na = np.sqrt(na.astype(np.float64))
    bc = spark.sparkContext.broadcast((q_ids, Q, sq_na))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("dot", T.LongType()),
            T.StructField("raw_sim", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        q_ids_, Q_, sq_na_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["qvec"]]
            )
            nbr = pdf["vec_id"].to_numpy(dtype=np.int64)
            nb = (B * B).sum(axis=1)
            ok = nb > 0
            B, nbr, nb = B[ok], nbr[ok], nb[ok]
            if not len(nbr):
                continue
            dots = Q_ @ B.T  # exact int64 — order-free
            sims = dots.astype(np.float64) / (
                sq_na_[:, None] * np.sqrt(nb.astype(np.float64))[None, :]
            )
            for qi in range(len(q_ids_)):
                qid = int(q_ids_[qi])
                mask = nbr != qid
                s, d, nn = sims[qi][mask], dots[qi][mask], nbr[mask]
                if not len(nn):
                    continue
                # batch top-K by the FINAL ordering (sim desc, id asc)
                order = np.lexsort((nn, -s))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": nn[order],
                        "dot": d[order],
                        "raw_sim": s[order],
                    }
                )

    cand = qz.mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("raw_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("dot").alias("int_dot"),
            F.round("raw_sim", 4).alias("sim_q8"),
            "rnk",
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embedding_quantize_int8": embedding_quantize_int8,
    "quantize_error_certificate": quantize_error_certificate,
    "knn_cosine_quantized": knn_cosine_quantized,
}

_QUANT_CTE = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, vd,
               CASE WHEN m > 0 THEN m / {float(Q_MAX)} ELSE 1.0 END AS scale
        FROM (
            SELECT vec_id, vd,
                   list_max(list_transform(vd, x -> abs(x))) AS m
            FROM v
        )
    ),
    q AS (
        SELECT vec_id, vd, scale,
               list_transform(vd, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
                   AS qvec
        FROM s
    )
"""

ORACLES: dict[str, str] = {
    "embedding_quantize_int8": _QUANT_CTE
    + f"""
    SELECT vec_id, round(scale, 8) AS scale_r,
           array_to_string(qvec, ' ') AS qvec,
           CAST(len(list_filter(qvec, x -> abs(x) = {Q_MAX})) AS INTEGER)
               AS n_sat
    FROM q
    """,
    "quantize_error_certificate": _QUANT_CTE
    + """
    SELECT vec_id,
           round(err, 8) AS max_abs_err_r,
           err <= scale * 0.5 * (1.0 + 1e-9) AS within_half_step
    FROM (
        SELECT vec_id, scale,
               list_max(list_transform(
                   list_zip(vd, qvec),
                   p -> abs(p[1] - CAST(p[2] AS DOUBLE) * scale)
               )) AS err
        FROM q
    )
    """,
    "knn_cosine_quantized": _QUANT_CTE
    + f"""
    , qn AS (
        SELECT vec_id, qvec,
               CAST(list_dot_product(qvec, qvec) AS BIGINT) AS qq
        FROM q
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_dot_product(a.qvec, b.qvec) AS BIGINT) AS int_dot,
               CAST(list_dot_product(a.qvec, b.qvec) AS DOUBLE)
                   / (sqrt(CAST(a.qq AS DOUBLE)) * sqrt(CAST(b.qq AS DOUBLE)))
                   AS raw_sim
        FROM qn a JOIN qn b ON a.vec_id < {N_QUERIES}
                           AND a.vec_id <> b.vec_id
                           AND a.qq > 0 AND b.qq > 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, int_dot, raw_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY raw_sim DESC, neighbor_id ASC
               ) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, int_dot,
           round(raw_sim, 4) AS sim_q8, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
}


# A second registered name for the same query: callers address queries by name.
QUERIES["knn_cosine_quantized_fast"] = knn_cosine_quantized
ORACLES["knn_cosine_quantized_fast"] = ORACLES["knn_cosine_quantized"]
