"""Product quantization (PQ): subvector codebooks, code assignment, and
asymmetric-distance kNN over reconstructions.

Completes the engine's ANN compression family: IVF partitions the corpus
(similarity.py), absmax int8 shrinks vectors 4x (quantize.py), and PQ is
the third production tool — M independent per-subspace codebooks turn a
64-dim fp32 vector into M small codes (here 16 codes of 6 bits ≈ 21x
compression), and retrieval shortlists by ADC score against
RECONSTRUCTIONS (asymmetric distance: exact query side, quantized
candidate side) then re-ranks the shortlist exactly — the IVF-PQ +
re-rank layout every large-scale vector store runs.

Oracle posture (the similarity.py playbook): codebooks are DETERMINISTIC
— the first PQ_K vectors' subvectors, ascending id, exactly like IVF's
first-K coarse centroids — so both engines derive identical codebooks
from the data, and every float chain is written with the SAME
association on both sides: squared L2 decomposes into three sequential
dot-product folds (|a|^2 + |b|^2 - 2*dot(a,b)), the shared fold kernel
(similarity._fold_dot) and DuckDB's list_dot_product both accumulating
left-to-right over doubles. Assignment ties break on the lower code id
in both engines over bit-identical distances.

Scale notes:
  - the codebook (M x PQ_K = 1024 subvectors, the documented constant
    collect bound) is collected to the driver and broadcast; code
    assignment is then one Arrow batch pass per vector (_np_assign_codes)
    — map-only, data shipped per VECTOR, never per (vector, subspace,
    code);
  - a reconstruction is gathered from the broadcast codebook in the same
    pass (_np_recon), so the certificate and the ADC scorer need no
    codes-to-codebook join;
  - the ADC shortlist stage scores reconstructions against the broadcast
    query matrix per batch and keeps only each batch's top PQ_SHORTLIST
    per query; the exact re-rank touches only L rows per query.

Reference: the reference engine has no analog (its surface ends at the
chi-square pipeline, SURVEY.md §2); this extends the LLM-pipeline
mandate alongside quantize.py.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    _collect_side,
    _fold_cosine,
    _fold_dot,
    cosine,
)
from dic_a1_spark.sources.readers import load_table

# 64-dim embeddings -> M subspaces of SUBDIM dims; PQ_K codes per
# subspace, taken from the first PQ_K vectors (deterministic codebook,
# the IVF first-K precedent — a trained k-means codebook drops in
# without changing any query shape). M=16/K=64 chosen by a measured
# parameter sweep on the driver corpus (weak cluster structure — the
# adversarial case for PQ): shortlist recall@5 with L=50 is 0.96 vs
# 0.52 at the textbook M=8/K=16. Codebook stays constant-bounded
# (M x K = 1024 subvectors).
PQ_M = 16
PQ_SUBDIM = 4
PQ_K = 64

# ADC shortlist length before exact re-rank (10x TOP_K).
PQ_SHORTLIST = 50


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _np_codebook_parts(C):
    """Per-subspace codebook views + self-norms (fold order) from the
    (K, D) float64 codebook matrix."""
    cb_sub = [C[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for m in range(PQ_M)]
    cb_norm = [_fold_dot(s, s) for s in cb_sub]
    return cb_sub, cb_norm


def _np_assign_codes(V, cb_sub, cb_norm):
    """(n, PQ_M) codeword POSITION matrix for a (n, D) float64 batch —
    the oracle's d2 recipe (three fold dots, da + db - 2*dab) with
    np.argmin's first-minimal-index = lowest-code tiebreak.

    Iterates the ACTUAL collected codebook size, not PQ_K: a corpus
    with fewer than PQ_K rows collects a short codebook, and indexing
    to PQ_K crashed the executor (r10 one-row-corpus probe). Positions
    index the ascending-vec_id codebook; callers that emit code IDS map
    positions through the collected id array (positional order ==
    ascending code order, so the argmin tiebreak is preserved)."""
    codes = np.zeros((len(V), PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        vs = V[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        dab = _fold_dot(vs[:, :, None], cb_sub[m].T[None])
        d2 = _fold_dot(vs, vs)[:, None] + cb_norm[m][None, :] - 2.0 * dab
        codes[:, m] = d2.argmin(axis=1)
    return codes


def _np_recon(codes, cb_sub):
    """(n, PQ_M * PQ_SUBDIM) reconstructions: each subspace's codebook
    subvector at the row's code position, copied (not computed), so a
    reconstruction holds exactly the codebook's doubles."""
    R = np.empty((len(codes), PQ_M * PQ_SUBDIM))
    for m in range(PQ_M):
        R[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] = cb_sub[m][codes[:, m]]
    return R


def _collect_codebook(e: DataFrame):
    """(code ids, per-subspace views, per-subspace norms) of the first
    PQ_K vectors, collected to the driver; None when there is no
    codebook, i.e. the embeddings table is empty (codewords are corpus
    rows). Code IDS: contiguous 0..K-1 on the driver corpora, but a
    sparse/tiny corpus collects non-contiguous vec_ids, so assignment
    positions map through this array (r10 one-row-corpus probe)."""
    side = _collect_side(
        e.where(F.col("vec_id") < PQ_K).select("vec_id", "embedding")
    )
    if side is None:
        return None
    cb_ids, C = side
    return (cb_ids, *_np_codebook_parts(C))


def _batch_matrix(pdf: pd.DataFrame) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code assignment: one row per vector, codes space-joined in
    subspace order (driver-canonicalizer-safe string, the doc_pack_concat
    lesson).

    One Arrow batch pass against the driver-broadcast codebook: each of
    the three dot products in d2 runs on the shared fold kernel, then
    da + db - 2.0*dab in the oracle's association, so distances are
    bit-identical and the argmin with lowest-code tiebreak picks the
    oracle's codes."""
    e = load_table(spark, sf_dir, "embeddings")
    out_schema = "vec_id bigint, codes string"
    codebook = _collect_codebook(e)
    if codebook is None:
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast(codebook)

    def assign_batches(batches):
        cb_ids, cb_sub, cb_norm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = cb_ids[_np_assign_codes(_batch_matrix(pdf), cb_sub, cb_norm)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": [" ".join(map(str, row)) for row in codes],
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        assign_batches, out_schema
    )


def pq_recon_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarantee a pipeline checks before swapping fp32 retrieval for
    PQ: cosine similarity between every vector and its reconstruction —
    high recon_sim = the codebook covers the data's subspace geometry
    (the quantize.py error-certificate posture, geometric instead of
    elementwise).

    One Arrow batch pass assigns codes and gathers each reconstruction
    from the broadcast codebook (embedding_pq_codes' assignment, so the
    reconstruction's doubles are the codebook's own); the cosine is then
    the Spark-side fold expression (similarity.cosine) over the two
    arrays."""
    e = load_table(spark, sf_dir, "embeddings")
    codebook = _collect_codebook(e)
    if codebook is None:
        return spark.createDataFrame([], "vec_id bigint, recon_sim_r double")
    bc = spark.sparkContext.broadcast(codebook[1:])

    def recon_batches(batches):
        cb_sub, cb_norm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = _batch_matrix(pdf)
            R = _np_recon(_np_assign_codes(V, cb_sub, cb_norm), cb_sub)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "emb": list(V),
                    "recon": list(R),
                }
            )

    r = e.select("vec_id", "embedding").mapInPandas(
        recon_batches, "vec_id bigint, emb array<double>, recon array<double>"
    )
    # cosine divides via _null_div: a zero-norm vector or an all-zero
    # recon REPORTS undefined cohesion as NULL, matching DuckDB's 0/0,
    # where a raw `/` would THROW under ANSI.
    sim = cosine(F.col("emb"), F.col("recon"))
    return r.select("vec_id", F.round(sim, 4).alias("recon_sim_r"))


def knn_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ retrieval as production runs it — TWO stages:

      1. ADC shortlist: exact fp32 queries scored against PQ
         reconstructions (asymmetric distance), per-query top
         PQ_SHORTLIST — the cheap pass whose candidate payload is M code
         bytes instead of 256 fp32 bytes;
      2. exact re-rank: the shortlist joins back to the TRUE embeddings
         and the final top-K uses exact cosine.

    Emitted sims are therefore EXACT (the re-rank stage), and recall
    equals shortlist recall (0.96 at sf0.01 with L=50 — measured; PQ
    alone ranks at 0.22 on this weakly-clustered corpus, the honest
    argument for why production PQ always re-ranks). Same output
    columns as the other kNN variants so recall reports compose.

    The ADC stage is one Arrow pass: it assigns codes
    (`_np_assign_codes`), gathers the reconstructions from the
    driver-broadcast codebook (`_np_recon`), and scores ADC cosine per
    batch on the shared fold kernel (similarity._fold_cosine: dab /
    (sqrt(rr) * sqrt(qq)), the oracle's op sequence up to the
    commutative product), emitting only the per-batch top PQ_SHORTLIST
    rows per query (the global shortlist is a subset of the union of
    batch shortlists). The global shortlist window then picks the
    oracle's shortlist, and rounding and ranking of the re-rank are
    delegated to Spark."""
    e = load_table(spark, sf_dir, "embeddings")
    codebook = _collect_codebook(e)
    qs = _collect_side(
        e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding")
    )
    if codebook is None or qs is None:
        # No codebook or no query rows (an empty or sparse embeddings
        # table): nothing to rank. Schema matches the final select below
        # (rank is row_number's INT).
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, sim_pq double, rank int"
        )
    q_ids, Q = qs
    bc = spark.sparkContext.broadcast(
        (*codebook[1:], q_ids, Q, np.sqrt(_fold_dot(Q, Q)))
    )

    def score_batches(batches):
        cb_sub, cb_norm, q_ids_, Q_, sq_qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            nbr = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = _batch_matrix(pdf)
            R = _np_recon(_np_assign_codes(V, cb_sub, cb_norm), cb_sub)
            sims = _fold_cosine(R, Q_, sq_qn)  # (batch, queries)
            for qi, qid in enumerate(q_ids_.tolist()):
                mask = nbr != qid
                s, nn = sims[mask, qi], nbr[mask]
                if not len(nn):
                    continue
                pick = np.lexsort((nn, -s))[:PQ_SHORTLIST]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": nn[pick],
                        "adc_sim": s[pick],
                    }
                )

    cand = e.select("vec_id", "embedding").mapInPandas(
        score_batches, "query_id bigint, neighbor_id bigint, adc_sim double"
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        cand.withColumn("srank", F.row_number().over(w_short))
        .where(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # Re-rank stays on the JVM fold: the shortlist is Q x PQ_SHORTLIST
    # rows (500 at the registered params), so interpreted folds cost
    # microseconds here — and an ArrowEvalPython node between the two
    # query_id windows would break partitioning propagation and
    # re-insert the final window's exchange (measured r12: the Arrow
    # form turned this 1-exchange plan into 2; the plan pin in
    # tests/test_plans.py guards exactly that).
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qe"),
    )
    exact_side = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("ne_exact"),
    )
    exact = cosine(F.col("qe"), F.col("ne_exact"))
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("sim_raw"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(F.broadcast(queries), "query_id")
        .join(exact_side, "neighbor_id")
        .select("query_id", "neighbor_id", exact.alias("sim_raw"))
        .withColumn("rank", F.row_number().over(w_final))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("sim_raw", 4).alias("sim_pq"),
            "rank",
        )
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embedding_pq_codes": embedding_pq_codes,
    "pq_recon_certificate": pq_recon_certificate,
    "knn_cosine_pq": knn_cosine_pq,
    # Second registered names for the same queries: callers address
    # queries by name.
    "embedding_pq_codes_fast": embedding_pq_codes,
    "knn_cosine_pq_fast": knn_cosine_pq,
}

# Engine-neutral float chains (the similarity.py _COS stance): every dot
# is list_dot_product over CAST DOUBLE[] — left-to-right accumulation
# matching the Spark folds bit-for-bit.
_LDP = "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _l2sq_sql(a: str, b: str) -> str:
    return (
        f"({_LDP.format(a=a, b=a)} + {_LDP.format(a=b, b=b)}"
        f" - 2.0 * {_LDP.format(a=a, b=b)})"
    )


_CODES_CTE = f"""
    WITH cb AS (
        SELECT vec_id AS code, m,
               embedding[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sub
        FROM embeddings CROSS JOIN range({PQ_M}) t(m)
        WHERE vec_id < {PQ_K}
    ),
    vsubs AS (
        SELECT vec_id, m,
               embedding[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS vsub
        FROM embeddings CROSS JOIN range({PQ_M}) t(m)
    ),
    scored AS (
        SELECT v.vec_id, v.m, c.code,
               {_l2sq_sql("v.vsub", "c.sub")} AS d2
        FROM vsubs v JOIN cb c ON v.m = c.m
    ),
    assigned AS (
        SELECT vec_id, m, code
        FROM (
            SELECT vec_id, m, code,
                   row_number() OVER (
                       PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC
                   ) AS rn
            FROM scored
        ) WHERE rn = 1
    )
"""

_RECON_CTE = (
    _CODES_CTE
    + """
    , recon AS (
        SELECT a.vec_id,
               flatten(list(CAST(c.sub AS DOUBLE[]) ORDER BY a.m)) AS r
        FROM assigned a JOIN cb c ON a.m = c.m AND a.code = c.code
        GROUP BY a.vec_id
    )
"""
)

ORACLES: dict[str, str] = {
    "embedding_pq_codes": _CODES_CTE
    + """
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), ' ' ORDER BY m) AS codes
    FROM assigned GROUP BY vec_id
    """,
    "pq_recon_certificate": _RECON_CTE
    + f"""
    SELECT e.vec_id,
           round({_LDP.format(a="e.embedding", b="r.r")}
                 / (sqrt({_LDP.format(a="e.embedding", b="e.embedding")})
                    * sqrt({_LDP.format(a="r.r", b="r.r")})), 4)
               AS recon_sim_r
    FROM embeddings e JOIN recon r ON e.vec_id = r.vec_id
    """,
    "knn_cosine_pq": _RECON_CTE
    + f"""
    , adc_scored AS (
        SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
               {_LDP.format(a="q.embedding", b="r.r")}
               / (sqrt({_LDP.format(a="q.embedding", b="q.embedding")})
                  * sqrt({_LDP.format(a="r.r", b="r.r")})) AS adc_sim
        FROM embeddings q JOIN recon r ON q.vec_id <> r.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    shortlist AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_sim DESC, neighbor_id ASC
                   ) AS srank
            FROM adc_scored
        ) WHERE srank <= {PQ_SHORTLIST}
    ),
    reranked AS (
        SELECT s.query_id, s.neighbor_id,
               {_LDP.format(a="q.embedding", b="n.embedding")}
               / (sqrt({_LDP.format(a="q.embedding", b="q.embedding")})
                  * sqrt({_LDP.format(a="n.embedding", b="n.embedding")}))
                   AS sim_raw
        FROM shortlist s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings n ON n.vec_id = s.neighbor_id
    ),
    pq_ranked AS (
        SELECT query_id, neighbor_id, sim_raw,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY sim_raw DESC, neighbor_id ASC
               ) AS INTEGER) AS rank
        FROM reranked
    )
    SELECT query_id, neighbor_id, round(sim_raw, 4) AS sim_pq, rank
    FROM pq_ranked WHERE rank <= {TOP_K}
    """,
}


ORACLES["embedding_pq_codes_fast"] = ORACLES["embedding_pq_codes"]
ORACLES["knn_cosine_pq_fast"] = ORACLES["knn_cosine_pq"]
