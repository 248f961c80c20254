"""Embedding-based decontamination — the semantic complement of
curation.py's n-gram decontamination: benchmark/eval items leak into
training corpora through paraphrase and formatting changes that defeat
exact n-gram overlap, so production pipelines ALSO flag training
documents whose embeddings sit too close to a held-out evaluation set
(e.g. the contamination audits run for LLM report cards).

The held-out slice is deterministic and SQL-restatable: vectors with
vec_id % EMBDECONTAM_MOD == 0 (~1% of the corpus, spread across IVF
blocks) play the benchmark; everything else is training data. A
training vector is FLAGGED when its cosine to any benchmark vector
reaches EMBDECONTAM_SIM.

Execution is the bipartite form of similarity.py's blocked near-dup,
reusing its certified machinery end to end:
  1. `_block_partitions` assigns every vector to its top-nprobe IVF
     blocks (batch fold sims, rounding/ranking delegated to Spark) and
     shuffles once on the block key;
  2. per block, ONE bipartite fold cosine matrix (`_fold_cosine`)
     scores train x bench members with the exact fold's IEEE sequence,
     emitting raw sims within 1e-3 of the threshold (a NaN sim from
     a zero-norm member is excluded in both engines — numpy's >= drops
     it, and the oracle's 0/0 division is NULL in DuckDB);
  3. Spark's round(.,4) >= threshold decides; cross-block duplicates
     collapse with a distinct over bit-identical rows.

Like blocked near-dup, a train/bench pair sharing NO block is missed —
the recall/blocking trade is the operator's contract (recall vs the
exact bipartite ground truth is pinned in tests/test_embdecontam.py).

Scale shape at 100 TB: the benchmark side is a fixed eval suite
(thousands of items) while training is the corpus — per block the
bipartite matmul is |block_train| x |block_bench|, bench-bounded; the
corpus-sized work is one assignment pass + one block shuffle, identical
to the certified near-dup plan. No all-pairs anywhere.

Reference scope: no decontamination surface in the reference engine;
part of the training-data-pipeline extension (curation family, the
embedding twin of curation.py's decontam_* ladder).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dic_a1_spark.operators.similarity import (
    _COS_VC,
    _COS_12,
    IVF_K,
    NEARDUP_NPROBE,
    _block_partitions,
    _data_sized_k,
    _fold_cosine,
    _fold_dot,
    _partition_blocks,
)
from dic_a1_spark.sources.readers import load_table, table_rowcount

# Contamination threshold. A production gate sets paraphrase-level
# cosine (~0.9); on the synthetic corpus the cross-slice sims top out
# at ~0.50 (the dup clusters never straddle the %MOD boundary), so the
# registered threshold matches the corpus' semantic-overlap level (the
# near-dup screen) to keep BOTH flag branches populated — Q11
# non-vacuity, pinned in tests/test_embdecontam.py.
EMBDECONTAM_SIM = 0.4
# Held-out slice selector: vec_id % MOD == 0 (~1% of vectors).
EMBDECONTAM_MOD = 97


def _is_bench(col: F.Column) -> F.Column:
    return (col % EMBDECONTAM_MOD) == 0


def embdecontam_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bench_id, sim): every (training, benchmark) pair with
    block-shared cosine >= EMBDECONTAM_SIM — the audit trail a
    contamination report ships (which training doc, which eval item,
    how close)."""
    import pyspark.sql.types as T

    e = load_table(spark, sf_dir, "embeddings")
    # Codebook sizing from parquet footer metadata, NOT a df.count()
    # corpus action — byte-equal to count() and to the oracle's
    # count(*), see readers.table_rowcount (r8 VERDICT watch item #1).
    n = table_rowcount(sf_dir, "embeddings")
    k = _data_sized_k(n)
    asg = _block_partitions(e, ivf_k=k, nprobe=NEARDUP_NPROBE)

    pair_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("bench_id", T.LongType()),
            T.StructField("raw_sim", T.DoubleType()),
        ]
    )
    margin = EMBDECONTAM_SIM - 1e-3
    mod = EMBDECONTAM_MOD

    def score_partition(batches):
        out = []
        for _, g in _partition_blocks(batches):
            ids = g["vec_id"].to_numpy()
            bench_mask = (ids % mod) == 0
            if not bench_mask.any() or bench_mask.all():
                continue
            V = np.stack(g["embedding"].to_numpy()).astype(np.float64)
            be = V[bench_mask]
            S = _fold_cosine(V[~bench_mask], be, np.sqrt(_fold_dot(be, be)))
            i, j = np.nonzero(S >= margin)  # NaN excluded, see module doc
            if len(i):
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids[~bench_mask][i],
                            "bench_id": ids[bench_mask][j],
                            "raw_sim": S[i, j],
                        }
                    )
                )
        if out:
            yield pd.concat(out)

    return (
        asg.mapInPandas(score_partition, pair_schema)
        .select("vec_id", "bench_id", F.round("raw_sim", 4).alias("sim"))
        .where(F.col("sim") >= EMBDECONTAM_SIM)
        .distinct()  # cross-block duplicates carry bit-identical sims
    )


def embdecontam_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row audit panel: (n_train, n_bench, n_flagged, n_pairs,
    flag_rate_r, max_sim) — the number a go/no-go contamination gate
    reads."""
    e = load_table(spark, sf_dir, "embeddings")
    pop = e.agg(
        F.sum((~_is_bench(F.col("vec_id"))).cast("bigint"))
        .cast("bigint")
        .alias("n_train"),
        F.sum(_is_bench(F.col("vec_id")).cast("bigint"))
        .cast("bigint")
        .alias("n_bench"),
    )
    flagged = embdecontam_flagged(spark, sf_dir)
    fl = flagged.agg(
        F.countDistinct("vec_id").cast("bigint").alias("n_flagged"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.max("sim").alias("max_sim"),
    )
    return pop.crossJoin(F.broadcast(fl)).select(
        "n_train",
        "n_bench",
        "n_flagged",
        "n_pairs",
        # try_divide: an all-bench slice has n_train = 0 and raw `/`
        # THROWS under ANSI (r10 one-row-corpus probe); DuckDB's /0 is
        # NULL, which try_divide matches exactly.
        F.round(
            F.try_divide(
                F.col("n_flagged").cast("double"),
                F.col("n_train").cast("double"),
            ),
            6,
        ).alias("flag_rate_r"),
        "max_sim",
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embdecontam_flagged": embdecontam_flagged,
    "embdecontam_summary": embdecontam_summary,
}

# The oracle restates the bipartite blocked pipeline with the data-sized
# codebook arithmetic (similarity.py's _FAST_PAIRS_SQL shape).
_FLAGGED_SQL = f"""
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
        cand AS (
            SELECT DISTINCT t.vec_id AS vec_id, e.vec_id AS bench_id
            FROM asg t JOIN asg e ON t.centroid_id = e.centroid_id
            WHERE t.vec_id % {EMBDECONTAM_MOD} <> 0
              AND e.vec_id % {EMBDECONTAM_MOD} = 0
        )
        SELECT p.vec_id, p.bench_id, round({_COS_12}, 4) AS sim
        FROM cand p
        JOIN embeddings a ON a.vec_id = p.vec_id
        JOIN embeddings b ON b.vec_id = p.bench_id
        WHERE round({_COS_12}, 4) >= {EMBDECONTAM_SIM}
"""

ORACLES: dict[str, str] = {
    "embdecontam_flagged": _FLAGGED_SQL,
    "embdecontam_summary": f"""
        WITH flagged AS ({_FLAGGED_SQL}),
        pop AS (
            SELECT CAST(sum(CASE WHEN vec_id % {EMBDECONTAM_MOD} <> 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                   CAST(sum(CASE WHEN vec_id % {EMBDECONTAM_MOD} = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_bench
            FROM embeddings
        ),
        fl AS (
            SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_flagged,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   max(sim) AS max_sim
            FROM flagged
        )
        SELECT n_train, n_bench, n_flagged, n_pairs,
               round(CAST(n_flagged AS DOUBLE) / CAST(n_train AS DOUBLE), 6)
                   AS flag_rate_r,
               max_sim
        FROM pop CROSS JOIN fl
    """,
}
