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
dot-product folds (|a|^2 + |b|^2 - 2*dot(a,b)), Spark's F.aggregate
fold and DuckDB's list_dot_product both accumulating left-to-right over
doubles. Assignment ties break on the lower code id in both engines
over bit-identical distances.

Scale notes:
  - code assignment enumerates (vector, subspace, code) rows — N x M x
    PQ_K — through one window; the production path
    (embedding_pq_codes_fast) replaces this with one Arrow batch pass on
    the shared fold kernel;
  - reconstructions join codes (N x M rows) against the BROADCAST
    codebook (M x PQ_K = 128 rows, constant) and collapse map-side;
  - the ADC shortlist stage is the knn_cosine_bruteforce shape —
    broadcast queries, scan reconstructions, per-query top-L window —
    but the candidate side is M code bytes instead of 256 bytes of
    fp32 (the shuffle/storage win PQ exists for); the exact re-rank
    touches only L rows per query.

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
    _dot,
    _fold_cosine,
    _fold_dot,
    _null_div,
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


def _sub(arr: Column, m: int) -> Column:
    """1-based SUBDIM-slice of subspace m — mirrors DuckDB list slicing."""
    return F.slice(arr, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _l2sq(a: Column, b: Column) -> Column:
    """|a|^2 + |b|^2 - 2*dot(a,b) — three sequential folds combined with
    the exact association the oracle restates (never an elementwise
    difference fold, which DuckDB cannot reproduce without
    list_reduce). The dots take the SUBDIM-unrolled codegen branch
    (similarity._dot dim=PQ_SUBDIM; r12 — the interpreted HOF folds on
    4-wide slices dominated the N x M x K assignment stage)."""
    return (
        _dot(a, a, dim=PQ_SUBDIM)
        + _dot(b, b, dim=PQ_SUBDIM)
        - F.lit(2.0) * _dot(a, b, dim=PQ_SUBDIM)
    )


def _codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, code, sub: array<double>) — M x PQ_K rows, constant-bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = e.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"),
        _as_double(F.col("embedding")).alias("emb"),
    )
    subs = F.array(
        *[
            F.struct(F.lit(m).alias("m"), _sub(F.col("emb"), m).alias("sub"))
            for m in range(PQ_M)
        ]
    )
    return cb.select("code", F.explode(subs).alias("s")).select(
        "code", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def _with_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code): per-subspace nearest codebook entry (squared-L2
    argmin, ties to the lower code id)."""
    e = load_table(spark, sf_dir, "embeddings")
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                _sub(_as_double(F.col("embedding")), m).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    vsubs = e.select("vec_id", F.explode(subs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("vsub")
    )
    cb = _codebook(spark, sf_dir)
    scored = vsubs.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "code",
        _l2sq(F.col("vsub"), F.col("sub")).alias("d2"),
    )
    # Argmin as a partial-aggregating MIN over struct(d2, code):
    # lexicographic struct comparison IS orderBy(d2 asc, code asc) with
    # (d2, code) unique per group — and both paths compare doubles with
    # identical semantics (Double.compare; a NULL d2 sorts first under
    # asc exactly as the NULL struct field sorts smallest). Replaces the
    # row_number() window this shape shipped through r11: the N x M x
    # PQ_K scored rows now collapse MAP-SIDE (each vector's K candidate
    # rows are partition-local — the codebook side is broadcast), so the
    # exchange carries N x M rows instead of N x M x K, and the window's
    # full sort of the fan-out disappears (r12, guide §2.3 "aggregate
    # before you shuffle"; knn_cosine_pq interleaved sf0.1 median
    # 4.62 s -> 2.78 s).
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d2"), F.col("code"))).alias("mn"))
        .select("vec_id", "m", F.col("mn.code").alias("code"))
    )


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code assignment: one row per vector, codes space-joined in
    subspace order (driver-canonicalizer-safe string, the doc_pack_concat
    lesson)."""
    codes = _with_codes(spark, sf_dir)
    return codes.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"].cast("string"),
            ),
            " ",
        ).alias("codes")
    )


def _with_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, recon: array<double>) — 64-dim reconstruction assembled
    from the chosen codebook subvectors in subspace order."""
    codes = _with_codes(spark, sf_dir)
    cb = _codebook(spark, sf_dir)
    return (
        codes.join(F.broadcast(cb), ["m", "code"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "sub"))),
                    lambda s: s["sub"],
                )
            ).alias("recon")
        )
    )


def pq_recon_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guarantee a pipeline checks before swapping fp32 retrieval for
    PQ: cosine similarity between every vector and its reconstruction —
    high recon_sim = the codebook covers the data's subspace geometry
    (the quantize.py error-certificate posture, geometric instead of
    elementwise)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    r = _with_recon(spark, sf_dir)
    # Division via _null_div (zero-norm vector or all-zero recon): the
    # certificate REPORTS undefined cohesion as NULL, matching DuckDB's
    # 0/0 and the fast twins' Arrow NaN->NULL; a raw `/` would THROW
    # under ANSI (similarity._null_div).
    sim = _null_div(
        _dot(F.col("emb"), F.col("recon")),
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("recon"), F.col("recon"))),
    )
    return e.join(r, "vec_id").select(
        "vec_id", F.round(sim, 4).alias("recon_sim_r")
    )


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

    r13 (VERDICT r12 item 7, the embedding_neardup_blocked pattern):
    the registered entry now EXECUTES through the batch ADC scorer
    (knn_cosine_pq_fast — one Arrow pass assigns codes, gathers
    reconstructions from the driver-broadcast codebook, and scores ADC
    per batch), which is bit-identical by the certified float recipe
    below. The JVM-expression pipeline (subspace fan-out join,
    min-struct assignment, recon collect, crossJoin ADC window)
    survives UNREGISTERED as knn_cosine_pq_exact, pinned row-for-row
    against this entry in tests/test_pq.py; the DuckDB oracle hash
    gates both."""
    return knn_cosine_pq_fast(spark, sf_dir)


def knn_cosine_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-expression form of knn_cosine_pq — UNREGISTERED
    certification twin (see knn_cosine_pq). Kept executable: the
    row-for-row pin in tests/test_pq.py runs it against the registered
    batch path on every suite run."""
    # Norms are computed ONCE PER VECTOR in projections below the join
    # boundaries and the cross dot runs in the Arrow batch — the
    # similarity._cosine_pre pattern, bit-exact with the three-fold
    # per-pair form this replaces because each norm is the identical
    # sequential fold, just evaluated once (r12, guide §4: one Arrow dot
    # per scored pair instead of three interpreted 64-wide HOF folds).
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qe"),
    ).select("query_id", "qe", F.sqrt(_dot(F.col("qe"), F.col("qe"))).alias("qn"))
    cands = _with_recon(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("recon").alias("ne"),
        F.sqrt(_dot(F.col("recon"), F.col("recon"))).alias("nn"),
    )
    from dic_a1_spark.operators.similarity import _cosine_pre

    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        F.broadcast(queries)
        .crossJoin(cands)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qe",
            "qn",
            "neighbor_id",
            _cosine_pre(
                F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
            ).alias("adc_sim"),
        )
        .withColumn("srank", F.row_number().over(w_short))
        .where(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "qe", "neighbor_id")
    )
    # Re-rank stays on the JVM fold (the knn_cosine_pq_fast stance): the
    # shortlist is Q x PQ_SHORTLIST rows (500 at the registered params),
    # so interpreted folds cost microseconds — and an ArrowEvalPython
    # node here would break partitioning propagation between the two
    # query_id windows and re-insert the final window's exchange
    # (measured r12: the Arrow re-rank made this a 16-exchange-node
    # formatted plan vs 14). The ADC stage above keeps the Arrow dot:
    # its pair volume is Q x N.
    exact_side = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("ne_exact"),
    )
    exact = _null_div(
        _dot(F.col("qe"), F.col("ne_exact")),
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("ne_exact"), F.col("ne_exact"))),
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("sim_raw"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(exact_side, "neighbor_id")
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


def _np_codebook_parts(C):
    """Per-subspace codebook views + self-norms (fold order) from the
    (K, D) float64 codebook matrix."""
    cb_sub = [C[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for m in range(PQ_M)]
    cb_norm = [_fold_dot(s, s) for s in cb_sub]
    return cb_sub, cb_norm


def _np_assign_codes(V, cb_sub, cb_norm):
    """(n, PQ_M) codeword POSITION matrix for a (n, D) float64 batch —
    the exact query's d2 recipe (three fold dots, da + db - 2*dab) with
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


def embedding_pq_codes_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of embedding_pq_codes, BIT-IDENTICAL output — the
    production assignment shape: the N x M x PQ_K row enumeration
    becomes one Arrow batch pass with the codebook on the driver
    (M x PQ_K = 1024 subvectors — the documented constant collect
    bound).

    d2 repeats the Column expression's EXACT float recipe — each of the
    three dot products runs on the shared fold kernel
    (similarity._fold_dot), then da + db - 2.0*dab in the same
    association — so distances are bit-identical and the argmin with
    lowest-code tiebreak picks identical codes. Registered under the
    SAME oracle SQL as embedding_pq_codes."""
    import pyspark.sql.types as T

    e = load_table(spark, sf_dir, "embeddings")
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.StringType()),
        ]
    )
    side = _collect_side(
        e.where(F.col("vec_id") < PQ_K).select("vec_id", "embedding")
    )
    if side is None:
        # No codebook <=> empty embeddings table (codewords are corpus
        # rows). Correct code table: empty.
        return spark.createDataFrame([], out_schema)
    # Code IDS of the collected codebook: contiguous 0..K-1 on the
    # driver corpora, but a sparse/tiny corpus collects non-contiguous
    # vec_ids — positions must map through this array to match the
    # exact twin's code = vec_id (r10 one-row-corpus probe).
    cb_ids, C = side
    cb_sub, cb_norm = _np_codebook_parts(C)
    bc = spark.sparkContext.broadcast((cb_sub, cb_norm, cb_ids))

    def assign_batches(batches):
        cb_sub_, cb_norm_, cb_ids_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            codes = cb_ids_[_np_assign_codes(V, cb_sub_, cb_norm_)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": [" ".join(map(str, row)) for row in codes],
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        assign_batches, out_schema
    )


QUERIES["embedding_pq_codes_fast"] = embedding_pq_codes_fast
# Identical output by construction -> shares the exact query's oracle.
ORACLES["embedding_pq_codes_fast"] = ORACLES["embedding_pq_codes"]


def knn_cosine_pq_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of knn_cosine_pq, BIT-IDENTICAL output — the ADC
    stage as production runs it: one Arrow pass assigns codes
    (`_np_assign_codes`), gathers the reconstruction row straight from
    the driver-broadcast codebook, and scores ADC cosine per batch,
    emitting only the per-batch top PQ_SHORTLIST rows per query (the
    global shortlist is a subset of the union of batch shortlists).

    ADC sims come from the shared fold kernel (similarity._fold_cosine:
    dab / (sqrt(rr) * sqrt(qq)), the Column expression's op sequence up
    to the commutative product), so the global shortlist window (same
    ordering expressions) picks the IDENTICAL shortlist, and the exact
    re-rank stage is the same DataFrame subtree as the exact query
    (rounding and ranking delegated to Spark). Registered under the
    SAME oracle SQL as knn_cosine_pq."""
    import pyspark.sql.types as T

    e = load_table(spark, sf_dir, "embeddings")
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc_sim", T.DoubleType()),
        ]
    )
    cb = _collect_side(e.where(F.col("vec_id") < PQ_K).select("vec_id", "embedding"))
    qs = _collect_side(
        e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding")
    )
    if cb is None or qs is None:
        # No codebook or no query rows (an empty or sparse embeddings
        # table): nothing to rank. Schema matches the final select below
        # (rank is row_number's INT).
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", T.LongType()),
                    T.StructField("neighbor_id", T.LongType()),
                    T.StructField("sim_pq", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    cb_sub, cb_norm = _np_codebook_parts(cb[1])
    q_ids, Q = qs
    bc = spark.sparkContext.broadcast(
        (cb_sub, cb_norm, q_ids, Q, np.sqrt(_fold_dot(Q, Q)))
    )

    def score_batches(batches):
        cb_sub_, cb_norm_, q_ids_, Q_, sq_qn_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            nbr = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = _np_assign_codes(V, cb_sub_, cb_norm_)
            # Reconstruction: gather codebook subvectors per chosen code.
            R = np.empty_like(V)
            for m in range(PQ_M):
                R[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] = cb_sub_[m][
                    codes[:, m]
                ]
            sims = _fold_cosine(R, Q_, sq_qn_)  # (batch, queries)
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
        score_batches, out_schema
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.asc("neighbor_id")
    )
    shortlist = (
        cand.withColumn("srank", F.row_number().over(w_short))
        .where(F.col("srank") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # Re-rank stays on the JVM fold, NOT the exact twin's Arrow dot: the
    # shortlist is Q x PQ_SHORTLIST rows (500 at the registered params),
    # so interpreted folds cost microseconds here — and an
    # ArrowEvalPython node between the two query_id windows would break
    # partitioning propagation and re-insert the final window's exchange
    # (measured r12: the Arrow form turned this 1-exchange plan into 2;
    # the plan pin in tests/test_plans.py guards exactly that).
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qe"),
    )
    exact_side = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("ne_exact"),
    )
    exact = _null_div(
        _dot(F.col("qe"), F.col("ne_exact")),
        F.sqrt(_dot(F.col("qe"), F.col("qe")))
        * F.sqrt(_dot(F.col("ne_exact"), F.col("ne_exact"))),
    )
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


QUERIES["knn_cosine_pq_fast"] = knn_cosine_pq_fast
# Identical output by construction -> shares the exact query's oracle.
ORACLES["knn_cosine_pq_fast"] = ORACLES["knn_cosine_pq"]
