"""Oracle-verifiable MinHash-LSH and SimHash over an md5-derived hash
family.

The production pair queries (operators/dedup.py) hash with xxhash64. The
queries here run the SAME banded-LSH code — dedup.band_rows,
dedup.band_pairs and, for MinHash, dedup.jaccard_verified — over a hash
family that both Spark and DuckDB compute bit-identically by plain SQL:
ONE md5 per shingle feeding an affine universal family (constants defined
below at _A/_B/_M). Only the hash family and the band keys are this
module's own:

    base(s)  = bigint(first 10 hex chars of md5(s))        in [0, 2^40)
    h_i(s)   = (A[i] * base(s) + B[i]) mod (2^61 - 1)
    band_b   = md5(concat_ws(',', sig[4b] .. sig[4b+3]))

10 hex chars < 2^40, so the base is an exact positive BIGINT in both
Spark (conv(substr(md5(s),1,10),16,10)) and DuckDB
(CAST('0x' || substring(md5(s),1,10) AS BIGINT)), and A[i] < 2^21 keeps
A[i]*base below 2^61 — no int64 overflow in either engine. Asserted
equal in tests/test_lsh.py and by the driver's value-hash gate.

The oracles here are short hand-written SQL, where the xxhash64 ones are
generated from functions/xxh64_sql.py, so this family stays registered
as the cheap-to-verify twin and the recall-report vehicle
(evalops.lsh_recall_report). The xxhash64 family remains the production
path: integer mixing, no per-hash string materialization.

Reference: the reference has no dedup at all; this extends SURVEY.md §2
per the LLM-data-pipeline mandate (same ladder as operators/dedup.py).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dic_a1_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_HASHES,
    MINHASH_ROWS,
    _SHINGLE_CTE,
    _pair_graph_lp_sql,
    _sig_band,
    _with_shingle_arrays,
    band_pairs,
    band_rows,
    jaccard_verified,
    min_label_loop,
    unpersist_plan,
)
from dic_a1_spark.sources.readers import load_table


# Universal (affine) hash family over ONE md5-derived 40-bit base value:
#     base(s) = bigint(first 10 hex chars of md5(s))         in [0, 2^40)
#     h_i(s)  = (A[i] * base(s) + B[i]) mod M
# M = 2^61-1 (Mersenne prime; A[i] < 2^21 so A[i]*base < 2^61 never
# overflows int64). ONE md5 per shingle instead of MINHASH_HASHES of them
# — the md5-per-(shingle, i) family this replaced spent 16 string hashes
# per shingle and made this the slowest bench query (20.5 s at sf0.1; this
# form ~16x fewer md5 calls). The A/B constants are Python ints embedded
# literally in both the Spark expressions and the oracle SQL, so the two
# engines compute the family bit-identically by construction. The base
# values are ALSO the verification currency (the engine's documents are
# the distinct base sets — Jaccard is defined over the hashed-shingle
# universe, the same well-defined-semantics stance as the hot-shingle
# ceiling): a 40-bit collision merges two shingles IDENTICALLY in both
# engines, so oracle parity is unaffected; ~130K distinct shingles at
# sf0.1 give an expected ~0.008 collisions corpus-wide.
_M = (1 << 61) - 1
_A = [((0x9E3779B1 * (i + 1)) & 0x001FFFFF) | 1 for i in range(MINHASH_HASHES)]
_B = [(0x85EBCA77 * (i + 1)) & 0x001FFFFF for i in range(MINHASH_HASHES)]


def _md5_hashed_shingles(shingle_arrays: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint>) — per-doc DISTINCT md5-derived base
    values. The whole pipeline's currency: signatures fold over it and
    verification intersects it, so shingle STRINGS never leave the first
    projection (at 250K amplified docs the string arrays made candidate
    verification the dominant cost: ~1 KB/doc shipped per candidate pair
    vs ~8 B/shingle here)."""
    return shingle_arrays.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(shingles,"
            " s -> cast(conv(substr(md5(s), 1, 10), 16, 10) as bigint)))"
        ).alias("hs"),
    )


def _affine_transform(a: int, b: int, m: int):
    """Vectorized (a*h + b) % m on int64 — exact: the md5 base values are
    40-bit (conv of 10 hex digits) and a < 2^21, so a*h + b < 2^62 never
    overflows int64, and numpy's % matches Spark's signed BIGINT % on
    these all-positive operands."""
    aa, bb, mm = np.int64(a), np.int64(b), np.int64(m)

    def t(flat: np.ndarray) -> np.ndarray:
        return (flat * aa + bb) % mm

    return t


def _md5_minhash_signatures(hashed_shingles: DataFrame) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MINHASH_HASHES min-hashes of the
    md5-affine family, computed MAP-ONLY over the per-doc base array (no
    explode, no shuffle; same shape as dedup.minhash_signatures). `hs` is
    a bound column, so the signature pass never re-runs the md5
    transform (the expression-inlining trap, SCALING.md §text). The 16
    per-hash minima run as ONE Arrow pass (dedup.min_sig_batch —
    bit-identical integer arithmetic, r12 guide §4.2; tests/
    reference_impl.py keeps the interpreted fold form as the equality
    reference)."""
    from dic_a1_spark.operators.dedup import min_sig_batch

    transforms = [
        _affine_transform(_A[i], _B[i], _M) for i in range(MINHASH_HASHES)
    ]
    return hashed_shingles.select(
        "doc_id", min_sig_batch(transforms)(F.col("hs")).alias("sig")
    )


def _md5_band_keys() -> list[Column]:
    """The md5 family's band keys: md5 of each band's comma-joined rows."""
    return [
        F.md5(
            F.concat_ws(",", *[c.cast("string") for c in _sig_band(b)]).cast("binary")
        )
        for b in range(MINHASH_BANDS)
    ]


def dedup_minhash_md5_pairs(
    spark: SparkSession, sf_dir: str, arrs: DataFrame | None = None
) -> DataFrame:
    """MinHash-LSH near-dup pairs with a DuckDB-twin hash family: the
    dedup.dedup_minhash_pairs plan (map-only signatures, band_pairs with
    doc1 < doc2, jaccard_verified) over md5-affine signatures and md5
    band keys.

    ``arrs`` lets a caller that already holds the persisted
    (doc_id, hs) md5-base frame (evalops.lsh_recall_report) share it
    instead of re-tokenizing the corpus and double-caching."""
    from pyspark import StorageLevel

    if arrs is None:
        arrs = _md5_hashed_shingles(
            _with_shingle_arrays(load_table(spark, sf_dir, "documents"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
    # Signatures persisted (r13): the band self-join plans both sides as
    # separate subtrees, so the Arrow affine-min pass would otherwise
    # run twice per query (the dedup_simhash_md5_pairs stance).
    sig = _md5_minhash_signatures(arrs).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_rows(sig, _md5_band_keys())
    cand = (
        band_pairs(bands, bands)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
    )
    return jaccard_verified(cand, arrs, "doc1", "doc2")


# Min-label rounds of the groups form: the oracle unrolls this depth, and
# the Spark loop's early stop skips only rounds that change nothing.
LP_ITERS = 8


def _pair_groups(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, n_iter: int
) -> DataFrame:
    """(doc_id, group_id): connected components over the verified pair
    graph `pairs` (doc1, doc2), by dedup.min_label_loop at the fixed
    depth n_iter. Each document carries a self-loop, so every document
    keeps one row and unpaired documents keep their own id. The budget
    does not raise when spent: the oracle unrolls exactly that depth.

    The loop's last action materializes the labels, so the frames the
    pair builder persisted are released before the return."""
    docs = load_table(spark, sf_dir, "documents")
    # One scan of the pairs emits both directions.
    adj = pairs.selectExpr(
        "inline(array(struct(doc1 AS src, doc2 AS dst),"
        " struct(doc2 AS src, doc1 AS dst)))"
    ).unionByName(docs.selectExpr("doc_id AS src", "doc_id AS dst"))
    ids = docs.selectExpr("doc_id AS node", "doc_id AS label")
    labels, _ = min_label_loop(adj, ids, n_iter)
    unpersist_plan(pairs)
    return labels.selectExpr("node AS doc_id", "label AS group_id")


def dedup_minhash_md5_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, group_id): connected components over the VERIFIED md5-LSH
    near-dup pair graph (dedup_minhash_md5_pairs, integer-exact in both
    engines), LP_ITERS min-label rounds deep. Its oracle restates the
    rounds as LP_ITERS unrolled SQL iterations, so the driver's typed
    value-hash certifies the min-label loop that this query,
    dedup_simhash_md5_groups and embedding_neardup_groups share."""
    return _pair_groups(
        spark, sf_dir, dedup_minhash_md5_pairs(spark, sf_dir), LP_ITERS
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_minhash_md5_pairs": dedup_minhash_md5_pairs,
    "dedup_minhash_md5_groups": dedup_minhash_md5_groups,
}

# NOTE: _SHINGLE_CTE also defines string-based sizes/shared/jac CTEs;
# they are unreferenced below (verification runs over the md5-base
# values, mirroring the Spark side) and DuckDB does not evaluate
# unreferenced CTEs.
ORACLES: dict[str, str] = {
    "dedup_minhash_md5_pairs": f"""
        WITH {_SHINGLE_CTE},
        based AS (
            SELECT DISTINCT doc_id,
                   CAST(('0x' || substring(md5(shingle), 1, 10)) AS BIGINT)
                       AS base
            FROM sh
        ),
        hashes AS (
            SELECT doc_id, i,
                   min(([{", ".join(str(a) for a in _A)}][i + 1] * base
                        + [{", ".join(str(b) for b in _B)}][i + 1]) % {_M})
                       AS mh
            FROM based CROSS JOIN range({MINHASH_HASHES}) t(i)
            GROUP BY doc_id, i
        ),
        bands AS (
            SELECT doc_id, CAST(i // {MINHASH_ROWS} AS INTEGER) AS band_id,
                   md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i))
                       AS band_hash
            FROM hashes GROUP BY doc_id, i // {MINHASH_ROWS}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id
                        AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        ),
        bsizes AS (SELECT doc_id, count(*) AS n_sh FROM based GROUP BY doc_id),
        bshared AS (
            SELECT b1.doc_id AS doc1, b2.doc_id AS doc2, count(*) AS n_shared
            FROM based b1 JOIN based b2
              ON b1.base = b2.base AND b1.doc_id < b2.doc_id
            GROUP BY b1.doc_id, b2.doc_id
        ),
        bjac AS (
            SELECT doc1, doc2,
                   CAST(n_shared AS DOUBLE)
                       / CAST(z1.n_sh + z2.n_sh - n_shared AS DOUBLE) AS jaccard
            FROM bshared
            JOIN bsizes z1 ON z1.doc_id = doc1
            JOIN bsizes z2 ON z2.doc_id = doc2
        )
        SELECT c.doc1, c.doc2, j.jaccard
        FROM cand c
        JOIN bjac j ON j.doc1 = c.doc1 AND j.doc2 = c.doc2
        WHERE j.jaccard >= {JACCARD_THRESHOLD}
    """,
}


ORACLES["dedup_minhash_md5_groups"] = _pair_graph_lp_sql(
    ORACLES["dedup_minhash_md5_pairs"],
    "doc1",
    "doc2",
    "doc_id",
    "documents",
    LP_ITERS,
)


# ---------------------------------------------------------------------------
# SimHash twin over the md5 base family — extends the module's charter
# (hash-certify the sketch-dedup logic) from MinHash banding to SimHash's
# bit-vote + chunk-band + hamming-verify pipeline, on the same band_rows /
# band_pairs path as dedup.dedup_simhash_pairs, over the 40-bit md5 base.
# ---------------------------------------------------------------------------

SIMHASH_MD5_BITS = 40          # md5 base width — packs into a positive bigint
SIMHASH_MD5_BAND_BITS = 10     # 4 bands of 10 bits
SIMHASH_MD5_BANDS = SIMHASH_MD5_BITS // SIMHASH_MD5_BAND_BITS
# Verification threshold. The banding is sound for dist <= 3 (pigeonhole:
# >= 1 of 4 bands equal), but the driver corpus's 31-word vocabulary
# collapses the signature space (52.5K IDENTICAL-signature pairs at
# sf0.1; h<=3 admits 747K pairs) — so the registered threshold is 1,
# keeping the output (143K rows at sf0.1) verification-bound rather than
# output-bound while both accept distances (0 and 1) and the rejected
# candidate mass stay exercised.
SIMHASH_MD5_HAMMING = 1


def _md5_token_bases(docs: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint>) — per-doc DISTINCT md5 bases of the
    DISTINCT token set (SimHash votes over tokens, not shingles)."""
    from dic_a1_spark.functions.text import tokens_distinct

    toks = docs.select(
        "doc_id",
        F.filter(tokens_distinct(F.col("text")), lambda w: w != "").alias("toks"),
    ).where(F.size("toks") > 0)
    return toks.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(toks,"
            " w -> cast(conv(substr(md5(w), 1, 10), 16, 10) as bigint)))"
        ).alias("hs"),
    )


def _md5_simhash_signatures(hashed_tokens: DataFrame) -> DataFrame:
    """(doc_id, sig: bigint) — 40-bit SimHash over the md5 bases,
    shuffle-free exactly like dedup.simhash_signatures: ONE Arrow-batched
    majority-vote pass (dedup.simhash_pack_batch, bit-identical integer
    arithmetic — replaced 40 interpreted per-bit scalar folds, r12). All
    40 bits fit below 2^40 so the packed signature is a plain positive
    bigint — none of the production twin's two's-complement sign-bit
    contortions."""
    from dic_a1_spark.operators.dedup import simhash_pack_batch

    return hashed_tokens.select(
        "doc_id", simhash_pack_batch(SIMHASH_MD5_BITS)(F.col("hs")).alias("sig")
    )


def dedup_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under the full value-hash gate: 10-bit
    chunk banding (a pair within hamming distance SIMHASH_MD5_HAMMING
    must agree on >= 1 of the 4 chunks; dedup.band_pairs), then exact
    hamming verification via bit_count(sig1 XOR sig2). Every step is
    integer arithmetic both engines execute identically."""
    from pyspark import StorageLevel

    sig = _md5_simhash_signatures(
        _md5_token_bases(load_table(spark, sf_dir, "documents"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    band_vals = [
        F.shiftrightunsigned(F.col("sig"), SIMHASH_MD5_BAND_BITS * k)
        .bitwiseAND(F.lit((1 << SIMHASH_MD5_BAND_BITS) - 1))
        for k in range(SIMHASH_MD5_BANDS)
    ]
    bands = band_rows(sig, band_vals, "sig")
    return (
        band_pairs(bands, bands)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MD5_HAMMING)
    )


# The simhash pair graph is CHAINIER than the minhash one (signatures
# differing by one bit link transitively), so its components have larger
# diameter: measured convergence is 13 synchronous min-label rounds at
# sf0.001/sf0.01/sf0.1 vs the minhash family's < 8. 16 gives margin;
# Spark's early stop skips converged rounds and the oracle's extra
# unrolled rounds are no-ops, so both sides emit identical labels.
SIMHASH_LP_ITERS = 16


def dedup_simhash_md5_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, group_id): connected components over the verified
    md5-SimHash pair graph, the dedup_minhash_md5_groups body at
    SIMHASH_LP_ITERS rounds."""
    return _pair_groups(
        spark, sf_dir, dedup_simhash_md5_pairs(spark, sf_dir), SIMHASH_LP_ITERS
    )


QUERIES["dedup_simhash_md5_pairs"] = dedup_simhash_md5_pairs
QUERIES["dedup_simhash_md5_groups"] = dedup_simhash_md5_groups

from dic_a1_spark.config import duckdb_tokens_sql as _dts  # noqa: E402

_TOKS_SQL = _dts()

ORACLES["dedup_simhash_md5_pairs"] = f"""
    WITH dtoks AS (
        SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS w FROM documents
    ),
    based AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substring(md5(w), 1, 10)) AS BIGINT) AS base
        FROM dtoks
    ),
    counts AS (
        SELECT doc_id, j,
               CAST(sum((base >> j) & 1) AS BIGINT) AS cj,
               CAST(count(*) AS BIGINT) AS n
        FROM based CROSS JOIN range({SIMHASH_MD5_BITS}) t(j)
        GROUP BY doc_id, j
    ),
    sigs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN 2 * cj > n
                             THEN (CAST(1 AS BIGINT) << j)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
        FROM counts GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, sig, k,
               (sig >> ({SIMHASH_MD5_BAND_BITS} * CAST(k AS INTEGER)))
                   & {(1 << SIMHASH_MD5_BAND_BITS) - 1} AS bval
        FROM sigs CROSS JOIN range({SIMHASH_MD5_BANDS}) t(k)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
               a.sig AS s1, b.sig AS s2
        FROM bands a
        JOIN bands b ON a.k = b.k AND a.bval = b.bval
                    AND a.doc_id < b.doc_id
    )
    SELECT doc1, doc2,
           CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(s1, s2)) <= {SIMHASH_MD5_HAMMING}
"""


ORACLES["dedup_simhash_md5_groups"] = _pair_graph_lp_sql(
    ORACLES["dedup_simhash_md5_pairs"],
    "doc1",
    "doc2",
    "doc_id",
    "documents",
    SIMHASH_LP_ITERS,
)
