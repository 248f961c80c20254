"""Incremental (batch-vs-corpus) deduplication.

Production corpora are not deduplicated once — every crawl/delivery adds
an INCREMENT that must be deduplicated against the already-curated corpus
without reprocessing it. The join direction is the whole design problem
at 100 TB: the corpus side is ~1000x the increment, so the increment's
content-hash set broadcasts and the corpus is probed MAP-ONLY (one scan,
no shuffle of corpus rows, no repartitioning of corpus state). The hit
set that comes back is at most increment-sized, so the final anti-join is
again a broadcast.

Stand-in split: the increment is a fixed residue class of doc_id
(doc_id % INC_MOD == INC_REM, ~1/INC_MOD of the table) — the query shape
(tiny new batch vs huge standing corpus) is what matters, mirroring
curation.py's benchmark stand-in. Content identity is the ORDER-
INSENSITIVE tokenset hash of dedup_tokenset_groups (dedup.py:102) rather
than raw-text md5: the driver corpus has almost no byte-identical
duplicates (raw md5 would make every row here vacuously "admitted"),
while tokenset collisions are plentiful at every sf — and the same
choice is what production increments use first anyway (crawl re-fetches
reorder/ re-whitespace content far more often than they byte-match).

Plan shape (PLANS.md): two broadcast hash joins, zero shuffle exchanges
on the corpus branch; the only aggregation state is increment-sized.

Two screening levels: exact (tokenset hash, dedup_incremental_keep) and
NEAR-dup (MinHash-LSH over the md5-affine family,
dedup_incremental_minhash) — both with full DuckDB value-hash oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dic_a1_spark.config import (
    duckdb_tokens_sql,
    duckdb_tokenset_md5_sql,
)
from dic_a1_spark.sources.readers import load_table

# doc_id % INC_MOD == INC_REM -> the incoming increment (~12.5%).
INC_MOD = 8
INC_REM = 3


def content_key() -> "F.Column":
    """Order-insensitive tokenset md5 over `text` — the content identity
    shared by the batch queries here and the streaming admission twin
    (streaming/jobs.py:incremental_admission); a single definition so the
    two surfaces cannot fork."""
    from dic_a1_spark.operators.dedup import tokenset_hash

    return tokenset_hash(F.col("text"))


def _hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.withColumn("content_hash", content_key()).withColumn(
        "is_inc", F.col("doc_id") % INC_MOD == INC_REM
    )


def dedup_incremental_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of the increment: not content-identical to any corpus
    document, and the lowest-doc_id representative of each within-batch
    duplicate set. The corpus is touched exactly once, map-only (LEFT
    SEMI against the broadcast increment hash set); everything that
    shuffles is increment-sized."""
    h = _hashed(spark, sf_dir)
    inc = h.where("is_inc")
    corpus = h.where(~F.col("is_inc"))
    inc_hashes = inc.select("content_hash").distinct()
    # Corpus probe: which increment hashes already exist out there.
    # Broadcasting the INCREMENT side keeps the corpus scan shuffle-free.
    seen = (
        corpus.join(F.broadcast(inc_hashes), "content_hash", "left_semi")
        .select("content_hash")
        .distinct()
    )
    fresh = inc.join(F.broadcast(seen), "content_hash", "left_anti")
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "content_hash", "lang", "source", "n_chars")
    )


def dedup_incremental_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admission report an incremental dedup job publishes: increment
    size, how many rows were corpus duplicates, how many were
    within-batch duplicates, how many were admitted."""
    h = _hashed(spark, sf_dir)
    inc = h.where("is_inc")
    corpus = h.where(~F.col("is_inc"))
    inc_hashes = inc.select("content_hash").distinct()
    seen = (
        corpus.join(F.broadcast(inc_hashes), "content_hash", "left_semi")
        .select("content_hash")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    flagged = (
        inc.join(F.broadcast(seen), "content_hash", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            F.coalesce("in_corpus", F.lit(False)).alias("dup_corpus"),
            (F.col("rn") > 1).alias("dup_within"),
        )
    )
    return flagged.agg(
        F.count("*").alias("n_incoming"),
        F.sum(F.col("dup_corpus").cast("long")).alias("n_dup_corpus"),
        F.sum((~F.col("dup_corpus") & F.col("dup_within")).cast("long")).alias(
            "n_dup_within"
        ),
        F.sum((~F.col("dup_corpus") & ~F.col("dup_within")).cast("long")).alias(
            "n_admitted"
        ),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_incremental_keep": dedup_incremental_keep,
    "dedup_incremental_stats": dedup_incremental_stats,
}

_TOKS = duckdb_tokens_sql()
_TSMD5 = duckdb_tokenset_md5_sql()

_HASHED_CTE = f"""
    WITH h AS (
        SELECT doc_id, lang, source, n_chars,
               {_TSMD5}
                   AS content_hash,
               doc_id % {INC_MOD} = {INC_REM} AS is_inc
        FROM documents
    )
"""

ORACLES: dict[str, str] = {
    "dedup_incremental_keep": _HASHED_CTE
    + """
    SELECT doc_id, content_hash, lang, source, n_chars
    FROM h i
    WHERE is_inc
      AND NOT EXISTS (
          SELECT 1 FROM h c
          WHERE NOT c.is_inc AND c.content_hash = i.content_hash)
      AND NOT EXISTS (
          SELECT 1 FROM h i2
          WHERE i2.is_inc AND i2.content_hash = i.content_hash
            AND i2.doc_id < i.doc_id)
    """,
    "dedup_incremental_stats": _HASHED_CTE
    + """
    , flagged AS (
        SELECT i.doc_id,
               EXISTS (
                   SELECT 1 FROM h c
                   WHERE NOT c.is_inc AND c.content_hash = i.content_hash)
                   AS dup_corpus,
               row_number() OVER (
                   PARTITION BY i.content_hash ORDER BY i.doc_id) > 1
                   AS dup_within
        FROM h i WHERE i.is_inc
    )
    SELECT CAST(count(*) AS BIGINT) AS n_incoming,
           CAST(sum(CASE WHEN dup_corpus THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_corpus,
           CAST(sum(CASE WHEN NOT dup_corpus AND dup_within
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_within,
           CAST(sum(CASE WHEN NOT dup_corpus AND NOT dup_within
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM flagged
    """,
}


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate admission screening for the increment: MinHash-LSH
    candidates between incoming docs and the standing corpus, verified
    by exact Jaccard over the md5-base shingle sets. It is the
    lsh.dedup_minhash_md5_pairs plan (the same md5 signatures and band
    keys, dedup.band_pairs, dedup.jaccard_verified), so it sits under the
    same full DuckDB value-hash oracle too. Only the join side is its own.

    The tokenset pass above catches reorderings; this catches partial
    edits. Join direction mirrors dedup_incremental_keep: the
    increment's band rows broadcast, and the corpus band stream is
    probed without repartitioning corpus rows.

    Output: one row per verified (incoming, corpus) near-dup pair."""
    from pyspark import StorageLevel

    from dic_a1_spark.operators.dedup import (
        _with_shingle_arrays,
        band_pairs,
        band_rows,
        jaccard_verified,
    )
    from dic_a1_spark.operators.lsh import (
        _md5_band_keys,
        _md5_hashed_shingles,
        _md5_minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    arrs = _md5_hashed_shingles(_with_shingle_arrays(d)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = band_rows(_md5_minhash_signatures(arrs), _md5_band_keys())
    is_inc = F.col("doc_id") % INC_MOD == INC_REM
    cand = band_pairs(bands.where(~is_inc), F.broadcast(bands.where(is_inc))).select(
        F.col("b.doc_id").alias("doc_id"), F.col("a.doc_id").alias("dup_doc_id")
    )
    return jaccard_verified(cand, arrs, "doc_id", "dup_doc_id")


QUERIES["dedup_incremental_minhash"] = dedup_incremental_minhash


def _incremental_minhash_oracle() -> str:
    from dic_a1_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        MINHASH_HASHES,
        MINHASH_ROWS,
        _SHINGLE_CTE,
    )
    from dic_a1_spark.operators.lsh import _A, _B, _M

    return f"""
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
            SELECT DISTINCT i.doc_id AS doc_id, c.doc_id AS dup_doc_id
            FROM bands i
            JOIN bands c ON i.band_id = c.band_id
                        AND i.band_hash = c.band_hash
            WHERE i.doc_id % {INC_MOD} = {INC_REM}
              AND c.doc_id % {INC_MOD} <> {INC_REM}
        ),
        bsizes AS (SELECT doc_id, count(*) AS n_sh FROM based GROUP BY doc_id),
        bshared AS (
            SELECT x.doc_id AS doc_id, y.doc_id AS dup_doc_id,
                   count(*) AS n_shared
            FROM based x JOIN based y ON x.base = y.base
            WHERE x.doc_id % {INC_MOD} = {INC_REM}
              AND y.doc_id % {INC_MOD} <> {INC_REM}
            GROUP BY 1, 2
        )
        SELECT c.doc_id, c.dup_doc_id,
               CAST(s.n_shared AS DOUBLE)
                   / CAST(z1.n_sh + z2.n_sh - s.n_shared AS DOUBLE) AS jaccard
        FROM cand c
        JOIN bshared s ON s.doc_id = c.doc_id AND s.dup_doc_id = c.dup_doc_id
        JOIN bsizes z1 ON z1.doc_id = c.doc_id
        JOIN bsizes z2 ON z2.doc_id = c.dup_doc_id
        WHERE CAST(s.n_shared AS DOUBLE)
                  / CAST(z1.n_sh + z2.n_sh - s.n_shared AS DOUBLE)
              >= {JACCARD_THRESHOLD}
    """


ORACLES["dedup_incremental_minhash"] = _incremental_minhash_oracle()
