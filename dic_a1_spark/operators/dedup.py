"""Deduplication operators over `documents` — exact, shingle-Jaccard,
MinHash-LSH, and SimHash. The core of a training-data pipeline at scale.

Strategy ladder (cheapest first):
  1. exact hash dedup            — one shuffle on md5(text)
  2. token-set fingerprint dedup — catches word-order shuffles, same cost
  3. shingle-Jaccard pairs       — exact near-dup; inverted-index self-join
                                   (pairs sharing >= 1 shingle), never the
                                   naive O(n^2) cross join
  4. MinHash-LSH                 — the 100 TB path: fixed-size signatures +
                                   band-bucket join; candidates then verified
                                   with exact Jaccard (no false positives)
  5. SimHash                     — 64-bit sketch + 16-bit-band blocking +
                                   hamming check via xor/bit_count

Every level carries a DuckDB oracle. 1-3 are plain SQL; 4-5 rest on
xxhash64, which DuckDB lacks natively — their oracles are GENERATED from
functions/xxh64_sql.py (Spark's xxhash64 derived as pure DuckDB HUGEINT
SQL, bit-parity pinned in tests/test_xxh64_sql.py), on top of pytest
recall tests against the exact-Jaccard ground truth (tests/test_dedup.py).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dic_a1_spark.config import (
    duckdb_tokens_sql,
    duckdb_tokenset_md5_sql,
)
from dic_a1_spark.functions.text import tokens_nonempty
from dic_a1_spark.sources.readers import load_table

JACCARD_THRESHOLD = 0.5
SHINGLE_WIDTH = 3  # word 3-grams

# MinHash parameters: 16 hashes in 4 bands of 4 rows.
# P(candidate | jaccard=s) = 1 - (1 - s^4)^4  ->  ~0.9 at s=0.7, ~0.04 at s=0.2.
MINHASH_HASHES = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_HASHES // MINHASH_BANDS


def tokenset_hash(col: Column) -> Column:
    """md5 over the sorted distinct non-empty token set — the
    order-insensitive content identity shared by dedup_tokenset_groups,
    sampling's leakage-safe splits, and corpusops' datacard. ONE
    construction so the three can never drift apart."""
    return F.md5(
        F.encode(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_nonempty(col)))),
            "UTF-8",
        )
    )


def _with_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) — DISTINCT word-3-gram shingles
    kept as an array so signature computation can stay map-only.

    Docs with fewer than SHINGLE_WIDTH tokens are dropped HERE, with the
    predicate on the token array. Every consumer either explodes (empty
    arrays vanish) or filtered empty-shingle docs itself — and a
    downstream size(shingles) > 0 filter gets predicate-pushed below this
    projection, where Catalyst inlines the whole shingle transform into
    the predicate and re-runs tokenization PER ELEMENT (measured ~40 s of
    pure filter overhead at 250K docs). With the filter in place,
    size(toks) - 2 >= 1, so the sequence is always ascending and needs no
    empty-array guard (Spark's sequence(1, 0) would count DOWN)."""
    toks = docs.select("doc_id", tokens_nonempty(F.col("text")).alias("toks")).where(
        F.size("toks") >= SHINGLE_WIDTH
    )
    shingles = F.expr(
        "array_distinct(transform(sequence(1, size(toks) - 2),"
        " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])))"
    )
    return toks.select("doc_id", shingles.alias("shingles"))


def _with_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + exploded DISTINCT shingles (the inverted-index form).

    explode_OUTER, not explode: InferFiltersFromGenerate turns a plain
    explode into a `size(shingles) > 0 AND isnotnull(shingles)` filter
    below the Generate, and CollapseProject inlines the whole
    non-cheap shingle expression into that predicate — where the
    interpreter re-runs tokenization per lambda element (measured 19 s
    of pure filter overhead on 5K docs at sf0.1; 0.9 s with the outer
    form). The outer form is row-identical here: _with_shingle_arrays
    keeps only docs with >= SHINGLE_WIDTH tokens, so every array has
    >= 1 element and no null-shingle row is ever produced."""
    return _with_shingle_arrays(docs).select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    )


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups keyed by content hash: one shuffle on the
    hash, constant-size state per group."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.encode("text", "UTF-8")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


def dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retained representative per exact-duplicate group (min doc_id),
    i.e. dropDuplicates(['text']) with a deterministic survivor."""
    d = load_table(spark, sf_dir, "documents")
    w_min = (
        d.groupBy(F.md5(F.encode("text", "UTF-8")).alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return w_min.select("doc_id").join(d, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


def dedup_tokenset_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive near-dup groups: md5 over the sorted distinct
    token set — catches duplicates that only shuffled word order."""
    d = load_table(spark, sf_dir, "documents")
    key = tokenset_hash(F.col("text"))
    return d.groupBy(key.alias("tokenset_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_docs"),
    )


def _drop_hot_shingles(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Frequency ceiling for the inverted index: remove shingles appearing
    in more than `max_shingle_df` documents BEFORE the self-join. One viral
    shingle with document frequency f contributes O(f^2) join rows; by Zipf
    the hot set itself is tiny, so it broadcasts and the prune is a cheap
    broadcast anti-join. Jaccard downstream is then exact over the FILTERED
    shingle universe (both numerator and denominators post-filter) — a
    well-defined semantics, not a silent undercount."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("sh_df"))
        .where(F.col("sh_df") > max_shingle_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard_pairs_from_index(
    sh: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs from a (doc_id, shingle) inverted index.

    Self-join on shingle with doc1 < doc2 — only pairs sharing at least one
    shingle are ever materialized, then jaccard = |shared| / (|s1| + |s2| -
    |shared|) from exact integer counts (single division, bit-exact vs the
    oracle). `max_shingle_df` is the 100 TB guard (SCALING.md): cap hot
    shingles so no single key can contribute O(f^2) join rows."""
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc1")
                    .withColumnRenamed("n_sh", "n1"), "doc1")
        .join(sizes.withColumnRenamed("doc_id", "doc2")
              .withColumnRenamed("n_sh", "n2"), "doc2")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_shared")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs above JACCARD_THRESHOLD.

    Registered (oracle-matched) form runs with the hot-shingle ceiling OFF
    so the result is exact over the full shingle universe; at 100 TB pass
    `max_shingle_df` (see jaccard_pairs_from_index) or go straight to
    MinHash-LSH below; the plan shape is the same."""
    sh = _with_shingles(load_table(spark, sf_dir, "documents"))
    return jaccard_pairs_from_index(sh)


# ---------------------------------------------------------------------------
# MinHash-LSH (oracle via generated xxhash64 SQL — see the oracle section
# at the bottom; ALSO verified in pytest against dedup_jaccard_pairs
# ground truth)
# ---------------------------------------------------------------------------

def _with_hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint>) — per-doc DISTINCT shingles, each
    hashed once with xxhash64. This is the internal currency of the whole
    MinHash pipeline: signatures fold over it and verification intersects
    it, so the expensive string arrays never leave the first projection.
    (Two distinct shingles colliding at 64 bits would perturb a verified
    jaccard by one count; at ~50 shingles/doc the chance is ~1e-16 per
    pair — accepted: the oracle hashes the same universe, so a collision
    merges identically in both engines and parity is unaffected.)"""
    return _with_shingle_arrays(docs).select(
        "doc_id", F.expr("transform(shingles, s -> xxhash64(s))").alias("hs")
    )


def min_sig_batch(transforms):
    """Arrow-batched min-signature packer: array<bigint> of per-shingle
    base values -> array<bigint> signature [min over the array of t_j(h)
    for each transform t_j]. Shared by the production xxhash64 MinHash
    family (minhash_signatures) and the md5-affine certification family
    (lsh._md5_minhash_signatures).

    Each transform is a numpy callable over the batch's CONCATENATED
    int64 base values; per-doc minima come from one minimum.reduceat per
    transform. PURE INTEGER arithmetic throughout, so the result is
    bit-identical to the interpreted array_min(transform(hs, ...)) folds
    it replaces (kept as the test reference in tests/reference_impl.py)
    by construction: the transforms are wraparound uint64 /
    bounded int64 ops stated identically in both forms (no float
    association to pin), and min over int64 is order-free. Exists
    because Spark higher-order functions are CodegenFallback:
    MINHASH_HASHES interpreted folds x ~45 shingles/doc cost ~1.4 s per
    evaluation at 250K amplified docs, and the pairs queries evaluate
    the signature chain on BOTH sides of their band self-join (r12,
    guide §4.2 — same device as simhash_pack_batch).

    NULL/empty base arrays pack to a signature of NULL elements, exactly
    like array_min over an empty/NULL array (callers exclude shingle-less
    docs upstream, as the fold form's consumers always did).

    PRECONDITION (ADVICE r12): array ELEMENTS must be non-null. The
    fold form's array_min skips null elements; this packer instead
    raises in the worker (np.asarray over an object array with None).
    Unreachable from current callers — `hs` is always transform(...)
    over non-null inputs — but stated here because the helper is
    shared/exported: a new caller with nullable elements must mask them
    before packing."""
    from pyspark.sql.types import ArrayType, LongType

    n_t = len(transforms)

    @pandas_udf(ArrayType(LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        n = len(hs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=object))
        arrs = [
            np.asarray(a, dtype=np.int64) if a is not None else _EMPTY_I64
            for a in hs
        ]
        lens = np.fromiter((len(a) for a in arrs), count=n, dtype=np.int64)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        # Sentinel element keeps reduceat's indices in range for
        # zero-length segments; their (bogus) minima are replaced below.
        # ALL n+1 offsets are passed so the last real segment ends at
        # offsets[n] instead of running to the end of the array (min,
        # unlike simhash_pack_batch's add, is corrupted by the sentinel).
        flat = np.concatenate(arrs + [_EMPTY_I64, np.zeros(1, np.int64)])
        empty = lens == 0
        sigs = np.empty((n, n_t), dtype=np.int64)
        for j, t in enumerate(transforms):
            sigs[:, j] = np.minimum.reduceat(t(flat), offsets)[:n]
        out = list(sigs)
        if empty.any():
            nulls = [None] * n_t
            out = [nulls if e else row for row, e in zip(out, empty)]
        return pd.Series(out, dtype=object)

    return _sig


def _xxh64_long_transform(seed: int):
    """Vectorized Spark xxhash64 over one BIGINT with a fixed seed — the
    numpy statement of functions/xxh64_sql.py's py_xxh64_long (uint64
    wraparound multiply/rotate/xor + the avalanche, bit-for-bit)."""
    from dic_a1_spark.functions.xxh64_sql import _MASK, _P1, _P2, _P3, _P4, _P5

    h0 = np.uint64((seed + _P5 + 8) & _MASK)
    p1, p2, p3, p4 = (np.uint64(p) for p in (_P1, _P2, _P3, _P4))
    s27, s29, s31, s32, s33, s37 = (
        np.uint64(s) for s in (27, 29, 31, 32, 33, 37)
    )

    def t(flat: np.ndarray) -> np.ndarray:
        v = flat.view(np.uint64)
        k = v * p2
        k = (k << s31) | (k >> s33)
        h = h0 ^ (k * p1)
        h = ((h << s27) | (h >> s37)) * p1 + p4
        h ^= h >> s33
        h *= p2
        h ^= h >> s29
        h *= p3
        h ^= h >> s32
        return h.view(np.int64)

    return t


def _minhash_transforms():
    """The production family h_i(h) = xxhash64(i, h), decomposed exactly
    as the generated DuckDB oracle states it (_xxh_minhash_common_ctes):
    an INT-literal first field folds to a constant seed, so
    xxhash64(i, h) == xxh64_long(h, seed=xxh64_int(i, 42))."""
    from dic_a1_spark.functions.xxh64_sql import py_xxh64_int

    return [
        _xxh64_long_transform(py_xxh64_int(i, 42))
        for i in range(MINHASH_HASHES)
    ]


def minhash_signatures(
    docs: DataFrame, hashed_shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MINHASH_HASHES independent min-hashes.

    Hash family: h_i(s) = xxhash64(i, xxhash64(s)). Computed MAP-ONLY —
    no explode, no groupBy, NO SHUFFLE. At 100 TB signature computation
    is embarrassingly parallel; the first exchange in the whole LSH
    pipeline is the band-bucket join itself. Docs with no shingles
    (fewer than SHINGLE_WIDTH tokens) are excluded, matching the
    previous grouped form.

    Integer mixing beats the previous seed-prefixed-string family: 16
    string concats + string hashes per shingle meant string allocation
    dominated the whole LSH pipeline (56.6s of the 250K-doc signature
    pass). The 16 per-hash minima run as ONE Arrow pass over the bound
    hs column (min_sig_batch — bit-identical integer arithmetic, r12
    guide §4.2; tests/reference_impl.py keeps the interpreted fold form
    as the equality reference)."""
    if hashed_shingles is None:
        hashed_shingles = _with_hashed_shingles(docs)
    return hashed_shingles.select(
        "doc_id", min_sig_batch(_minhash_transforms())(F.col("hs")).alias("sig")
    )


def _sig_band(b: int) -> list[Column]:
    """The MINHASH_ROWS signature entries of band b."""
    return [F.col("sig")[b * MINHASH_ROWS + r] for r in range(MINHASH_ROWS)]


# ---------------------------------------------------------------------------
# Banded LSH, shared by every pair query (MinHash and SimHash, both hash
# families, self-join and increment-vs-corpus): band rows, the candidate
# join with its first-shared-band rule, and the exact-Jaccard verifier.
# Each query keeps its own hash family, band keys, pair order or broadcast
# side, and verification.
# ---------------------------------------------------------------------------

def band_rows(sig: DataFrame, keys: list[Column], *carry: str) -> DataFrame:
    """(doc_id, *carry, keys, band_id, band_key): one row per band of each
    `sig` row, band_key = keys[band_id]. The frame is projected to these
    columns BEFORE the explode, so a wide signature is never copied onto
    every band row. The key array rides along for band_pairs'
    first-shared-band test, and the band count rides in its column
    metadata."""
    n = len(keys)
    return (
        sig.select("doc_id", *carry, F.array(*keys).alias("keys", metadata={"bands": n}))
        .select(
            "doc_id", *carry, "keys",
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("band_id"),
        )
        .select(
            "doc_id", *carry, "keys", "band_id",
            F.element_at("keys", F.col("band_id") + 1).alias("band_key"),
        )
    )


def band_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """band_rows frames `left` AS a and `right` AS b joined on an equal
    (band_id, band_key) — a plain equi-join on a compact key, no cross
    join anywhere — with each pair of rows kept once, at its FIRST shared
    band. A pair sharing m bands meets m times in the join; the filter
    drops the later meetings map-side, against the carried key arrays,
    instead of a distinct() shuffle over the whole join output (at 250K
    amplified docs, ~1B rows). The caller adds its pair order or
    broadcast side and selects from a.* and b.*."""
    a, b = left.alias("a"), right.alias("b")
    earlier = F.lit(False)
    for j in range(left.schema["keys"].metadata["bands"] - 1):
        earlier |= (F.col("a.band_id") > j) & (
            F.element_at("a.keys", j + 1) == F.element_at("b.keys", j + 1)
        )
    return a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key")),
    ).where(~earlier)


def jaccard_verified(
    cand: DataFrame, hs: DataFrame, id1: str, id2: str
) -> DataFrame:
    """(id1, id2, jaccard): the candidate pairs of `cand` whose exact
    Jaccard over the per-doc hashed sets `hs` (doc_id, hs) reaches
    JACCARD_THRESHOLD. Verification removes every LSH false positive, so
    precision is exact and only recall depends on the banding.

    It runs over candidates only: two equi-joins on doc_id pull each
    side's hashed shingle array (array<bigint>, ~8 bytes/shingle instead
    of a full string) onto the candidate row, and
    `size(array_intersect(...))` gives the shared count map-side.
    Candidates are a vanishing fraction of the corpus, so shipping two
    compact arrays per candidate beats re-shuffling every (doc, shingle)
    row through an inverted-index join and a per-pair groupBy."""

    def side(name: str, h: str) -> DataFrame:
        return hs.select(F.col("doc_id").alias(name), F.col("hs").alias(h))

    return (
        cand.join(side(id1, "h1"), id1)
        .join(side(id2, "h2"), id2)
        .withColumn("n_shared", F.size(F.array_intersect("h1", "h2")))
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.size("h1") + F.size("h2") - F.col("n_shared")).cast("double"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(id1, id2, "jaccard")
    )


def minhash_candidate_pairs(
    docs: DataFrame, hashed_shingles: DataFrame | None = None
) -> DataFrame:
    """(doc1, doc2), doc1 < doc2: the pairs with an equal band hash
    xxhash64(sig[4b..4b+3]) in any of MINHASH_BANDS bands, each once
    (band_pairs).

    The signature frame is PERSISTED (r13, guide §2.4): the self-join
    plans BOTH band sides as separate subtrees, so without the persist
    the Arrow min-signature pass (and the band hashing above it) runs
    twice per query — the lsh.dedup_simhash_md5_pairs stance, measured
    ~10% off the warm sf0.1 query here and one full Arrow stage off the
    first materialization."""
    from pyspark import StorageLevel

    sig = minhash_signatures(docs, hashed_shingles).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = band_rows(sig, [F.xxhash64(*_sig_band(b)) for b in range(MINHASH_BANDS)])
    return (
        band_pairs(bands, bands)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
    )


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard
    (jaccard_verified) — LSH prunes the pair space; verification removes
    false positives.

    The per-doc HASHED shingles feed both consumers (map-only signatures
    and verification); without a persist Spark recomputes the
    tokenize->shingle->hash scan for each. MEMORY_AND_DISK persist makes
    it compute-once — at 100 TB this is the classic checkpoint point
    (materialize once, reuse across the LSH and verification stages)."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    hsf = _with_hashed_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    return jaccard_verified(minhash_candidate_pairs(docs, hsf), hsf, "doc1", "doc2")


def minhash_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket): one row per (doc, LSH band) with the bucket key
    collapsed to a single hash — the bipartite doc-bucket graph."""
    return minhash_signatures(docs).select(
        "doc_id",
        F.explode(
            F.array(
                *[F.xxhash64(F.lit(b), *_sig_band(b)) for b in range(MINHASH_BANDS)]
            )
        ).alias("bucket"),
    )


def label_propagate(docs: DataFrame, edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """(doc_id, group_id): connected-component labels over a bipartite
    doc<->bucket graph, by alternating min-label pushes doc->bucket and
    bucket->doc.

    Why this exists: tools/scale_smoke.py shows that with realistic
    duplicate clusters, emitting candidate *pairs* is quadratic in cluster
    size (20 copies -> 190 pairs each). For dedup you don't need pairs —
    you need a representative per cluster. Cost per iteration is two
    shuffles LINEAR in |doc-bucket edges|, independent of cluster sizes;
    exact duplicates share every bucket and collapse in one iteration,
    chains of near-dups converge within graph diameter (n_iter bounds it;
    components with larger diameter may keep >1 label — conservative,
    never wrong-merges). Shared by the MinHash and SimHash group queries;
    docs absent from `edges` (too short to sign) keep their own label.
    n_iter is a fixed budget that does not raise when spent: the oracles
    unroll exactly n_iter pushes, so the result is defined at that depth."""
    from pyspark import StorageLevel
    # Persist the doc-bucket graph: every iteration joins against it, and
    # without the persist each join would recompute the whole
    # tokenize->signature chain (iterative algorithms are THE case for
    # explicit materialization in Spark). One copy: a second copy
    # partitioned by bucket measured slower (OPTIMIZATION_r13.md,
    # "Rejected alternatives").
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)

    # Labels are LINEAGE-TRUNCATED each iteration (eager localCheckpoint),
    # not merely persisted: a persisted frame still carries its full
    # logical plan, so by iteration k Catalyst re-analyzes a plan k
    # joins deep — measured 40.9 s for 8 simhash iterations at sf0.1,
    # dominated by planning, not data (the shuffles move ~20K rows).
    # Checkpointing cuts each iteration's plan to a leaf scan of the
    # previous result: 8 shallow plans instead of one exponentially
    # deepening one. At cluster scale the same call swaps for a reliable
    # checkpoint directory; the algorithm is unchanged.
    labels = docs.select(
        "doc_id", F.col("doc_id").alias("label")
    ).localCheckpoint()
    for it in range(n_iter):
        if it == 0:
            # Iteration 0's labels are the identity (label == doc_id), so
            # the doc->bucket push needs no join at all: the bucket
            # minimum IS min(doc_id) — same rows, one join + one labels
            # exchange fewer (r12, guide §2.4).
            bucket_min = edges.groupBy("bucket").agg(
                F.min("doc_id").alias("bucket_label")
            )
        else:
            bucket_min = (
                edges.join(labels, "doc_id")
                .groupBy("bucket")
                .agg(F.min("label").alias("bucket_label"))
            )
        propagated = (
            edges.join(bucket_min, "bucket")
            .groupBy("doc_id")
            .agg(F.min("bucket_label").alias("new_label"))
        )
        new_labels = (
            labels.join(propagated, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("new_label", "label")).alias(
                    "label"
                ),
                F.col("label").alias("_old"),
            )
            # Lazy checkpoint (r13, guide §2.4): the convergence count
            # below is the single action that materializes AND truncates
            # the lineage — one job per round instead of the former
            # eager-checkpoint + count pair. On the final round no count
            # runs and the caller's own action materializes the
            # checkpoint; truncation still happens then.
            .localCheckpoint(eager=False)
        )
        # Convergence check: exact duplicates collapse in one pass (they
        # share every bucket), so most corpora stop after iteration 1+check
        # instead of running the full n_iter budget.
        if it < n_iter - 1:
            changed = new_labels.where(F.col("label") != F.col("_old")).count()
        else:
            changed = -1  # final round: result is the checkpointed frame
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("group_id"))


def min_label_loop(
    adj: DataFrame, labels: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool]:
    """((node, label), converged): up to max_rounds rounds of
    label(v) <- min label over v's closed neighbourhood.

    ``adj`` is (src, dst) in both directions and carries one self-loop
    per node, so a round is one join and one aggregate. Labels never
    increase, so an unchanged label sum means no label changed: the loop
    stops there and reports converged. The same sum is the round's one
    action, which materializes its lazy local checkpoint, so each round
    is one job. Stopping early skips only rounds that change nothing,
    so the labels equal those of max_rounds unrolled rounds, the form
    the pair-graph oracles state. An empty graph converges with no rows.

    ``adj`` is coalesced to one partition per core (every round scans it,
    and each extra task is launch cost with a few rows behind it),
    persisted for the loop, and released before the return: by then
    every round's checkpoint has been materialized."""
    from pyspark import StorageLevel

    cores = adj.sparkSession.sparkContext.defaultParallelism
    adj = adj.coalesce(cores).persist(StorageLevel.MEMORY_AND_DISK)
    prev_sum, converged = None, False
    for _ in range(max_rounds):
        labels = (
            adj.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    adj.unpersist()
    return labels, converged


def unpersist_plan(df: DataFrame) -> None:
    """Unpersist every persisted frame in df's plan, df included. A
    frame persisted twice shares one cache entry, and this releases it
    for both holders, as DataFrame.unpersist does."""
    jspark = df.sparkSession._jsparkSession
    cache = jspark.sharedState().cacheManager()
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        plan = todo.pop()
        if cache.lookupCachedData(jspark, plan).isDefined():
            cache.uncacheQuery(jspark, plan, False, False)
        children = plan.children()
        todo.extend(children.apply(i) for i in range(children.size()))


def minhash_label_groups(docs: DataFrame, n_iter: int = 3) -> DataFrame:
    """Near-dup groups from the MinHash band-bucket graph — the 100 TB
    shape of MinHash dedup (see label_propagate)."""
    return label_propagate(docs, minhash_band_buckets(docs), n_iter)


def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups over the band-bucket graph, under the FULL driver
    value-hash gate: the oracle (generated, bottom of module) recomputes
    the xxhash64 band buckets in DuckDB and unrolls the same n_iter=3
    label-propagation budget. (Rows-only for five rounds — the surrogate
    exact-Jaccard-component oracle was unsound at LSH recall < 1.0, and
    only the md5-affine twins in operators/lsh.py certified the shared
    logic; functions/xxh64_sql.py removed the necessity.)"""
    return minhash_label_groups(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SimHash (oracle via generated xxhash64 SQL; properties also verified in
# pytest)
# ---------------------------------------------------------------------------

def simhash_pack_batch(nbits: int):
    """Arrow-batched SimHash majority-vote packer: array<bigint> of
    per-token hash bases -> the packed `nbits`-bit signature, bit j set
    iff the count of bases with bit j set exceeds n/2 (exact ties -> 0).

    PURE INTEGER arithmetic, so the result is bit-identical to the
    per-bit scalar-fold form it replaces by construction (popcounts are
    exact int64 sums in any order; the majority compare and the bit
    packing are integer ops both paths state identically) — no float
    association to pin, unlike the dot-product twins. Exists because
    Spark higher-order functions are CodegenFallback: `nbits`
    interpreted folds per document (~64 x tokens lambda steps each)
    dominated every SimHash query; one Arrow pass computes all bit
    counts with `nbits` vectorized sweeps over the batch's concatenated
    token hashes (r12, guide §4.2: dedup_simhash_pairs sf0.1 interleaved
    median 2.31 s -> 0.89 s).

    nbits == 64 packs bit 63 as Long.MIN_VALUE (two's-complement sign
    bit, matching the fold form's -(2**63) term); nbits < 64 signatures
    are plain positive bigints. Rows with an empty/NULL base array pack
    to all-zero votes (callers filter empty token sets upstream, as the
    fold form's consumers always did)."""
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _pack(hs: pd.Series) -> pd.Series:
        n = len(hs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        arrs = [
            np.asarray(a, dtype=np.int64) if a is not None else _EMPTY_I64
            for a in hs
        ]
        lens = np.fromiter((len(a) for a in arrs), count=n, dtype=np.int64)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        # Sentinel element keeps reduceat's indices in range for
        # zero-length segments; their (bogus) counts are masked below.
        flat = np.concatenate(arrs + [_EMPTY_I64, np.zeros(1, np.int64)])
        empty = lens == 0
        acc = np.zeros(n, dtype=np.uint64)
        for j in range(nbits):
            bits = (flat >> j) & 1
            cj = np.add.reduceat(bits, offsets[:-1])[:n]
            cj[empty] = 0
            acc |= (np.uint64(1) << np.uint64(j)) * (cj * 2 > lens).astype(
                np.uint64
            )
        return pd.Series(acc.view(np.int64))

    return _pack


_EMPTY_I64 = np.zeros(0, dtype=np.int64)


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash: bigint) — 64-bit SimHash over distinct tokens.

    Per bit j: set iff the count of tokens with bit j of xxhash64(token)
    set exceeds n_tokens/2 (majority vote; exact ties -> 0, matching the
    sign-of-sum formulation). Computed with NO SHUFFLE: the token-hash
    array is materialized once per doc (JVM xxhash64), then ONE
    Arrow-batched pass counts all 64 bits and packs the signature
    (simhash_pack_batch — bit-identical integer arithmetic; replaced 64
    interpreted scalar `aggregate` folds per doc, r12 measured 2.6x on
    the pairs query). Docs with zero tokens are excluded (as before,
    when explode dropped them)."""
    toks = docs.select(
        "doc_id", F.array_distinct(tokens_nonempty(F.col("text"))).alias("toks")
    ).where(F.size("toks") > 0)
    hs = toks.select(
        "doc_id",
        F.expr("transform(toks, w -> xxhash64(w))").alias("hs"),
    )
    return hs.select("doc_id", simhash_pack_batch(64)(F.col("hs")).alias("simhash"))


def _simhash_bands() -> list[Column]:
    """The four 16-bit bands of the 64-bit `simhash`."""
    return [
        F.shiftrightunsigned(F.col("simhash"), 16 * k).bitwiseAND(F.lit(0xFFFF))
        for k in range(4)
    ]


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: block on four 16-bit bands (a pair within
    hamming distance 3 must agree on at least one band; band_pairs), then
    verify hamming <= 3 via bit_count(xor).

    The signature frame is persisted before the self-join: signatures are
    now computed map-only (no exchange in the plan), so without an
    explicit persist BOTH join sides would re-run the full
    tokenize+hash+fold chain — the map-only win would be paid back
    double. One cached pass instead."""
    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    sig = simhash_signatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_rows(sig, _simhash_bands(), "simhash")
    return (
        band_pairs(bands, bands)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
    )


def simhash_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket): one row per (doc, 16-bit SimHash band) with the
    bucket key collapsed to a single hash — the bipartite doc-bucket
    graph, same shape as minhash_band_buckets."""
    return simhash_signatures(docs).select(
        "doc_id",
        F.explode(
            F.array(*[F.xxhash64(F.lit(k), v) for k, v in enumerate(_simhash_bands())])
        ).alias("bucket"),
    )


def simhash_label_groups(docs: DataFrame, n_iter: int = 8) -> DataFrame:
    """Near-dup groups from the SimHash band-bucket graph. This is the
    scale-safe registered SimHash shape: dedup_simhash_pairs' output is
    inherently quadratic in duplicate-cluster size (252M pairs at 250K
    amplified docs, SCALEBENCH r2), while group output is exactly one row
    per document no matter how duplicate-heavy the corpus. Pairs remain
    the testable primitive (hamming-verified); groups are the operational
    dedup answer (band agreement is the merge relation, exactly as the
    MinHash groups use unverified band buckets).

    n_iter default is higher than MinHash's: 16-bit band values collide
    far more than 64-bit minhash band hashes, so the doc-bucket graph has
    larger-diameter components; the loop still early-exits on convergence
    (changed == 0), so the budget only costs iterations actually needed."""
    return label_propagate(docs, simhash_band_buckets(docs), n_iter)


def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_label_groups(load_table(spark, sf_dir, "documents"))


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact_groups": dedup_exact_groups,
    "dedup_exact_keep": dedup_exact_keep,
    "dedup_tokenset_groups": dedup_tokenset_groups,
    "dedup_jaccard_pairs": dedup_jaccard_pairs,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_minhash_groups": dedup_minhash_groups,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_simhash_groups": dedup_simhash_groups,
}

_TOKS = duckdb_tokens_sql()
_TSMD5 = duckdb_tokenset_md5_sql()

_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS a FROM documents),
pos AS (SELECT doc_id, a, generate_subscripts(a, 1) AS i FROM toks),
sh AS (
    SELECT DISTINCT doc_id, a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS shingle
    FROM pos WHERE i + 2 <= len(a)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
    SELECT s1.doc_id AS doc1, s2.doc_id AS doc2, count(*) AS n_shared
    FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
    GROUP BY s1.doc_id, s2.doc_id
),
jac AS (
    SELECT doc1, doc2,
           CAST(n_shared AS DOUBLE) / CAST(z1.n_sh + z2.n_sh - n_shared AS DOUBLE)
               AS jaccard
    FROM shared
    JOIN sizes z1 ON z1.doc_id = doc1
    JOIN sizes z2 ON z2.doc_id = doc2
)
"""

ORACLES: dict[str, str] = {
    "dedup_exact_groups": """
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
               count(*) AS n_docs
        FROM documents GROUP BY md5(text)
    """,
    "dedup_exact_keep": """
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k
          ON d.doc_id = k.doc_id
    """,
    "dedup_tokenset_groups": f"""
        SELECT {_TSMD5}
                   AS tokenset_hash,
               min(doc_id) AS keep_doc_id, count(*) AS n_docs
        FROM documents GROUP BY 1
    """,
    "dedup_jaccard_pairs": f"""
        WITH {_SHINGLE_CTE}
        SELECT doc1, doc2, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
}


# ---------------------------------------------------------------------------
# Generated xxhash64 oracles for the PRODUCTION MinHash/SimHash queries.
#
# DuckDB has no xxhash64, so these four queries were rows-only for five
# rounds ("by necessity"). functions/xxh64_sql.py removed the necessity:
# it derives Spark's xxhash64 as pure DuckDB SQL (bit-parity pinned in
# tests/test_xxh64_sql.py), with fixed-width BIGINT folds emitted as
# vectorized projection-CTE chains. The oracles below re-state the exact
# production pipelines — same hash family h_i(s) = xxhash64(i, xxhash64(s)),
# same band hashes, same label-propagation iteration budgets — so the
# driver's typed value-hash now certifies the REAL production path, not
# only the md5-affine twins in operators/lsh.py.
#
# Cost note: the string hash is the slow part (~5K shingles/s), so every
# oracle hashes DISTINCT strings once and joins hashes back to per-doc
# rows; the 16-hash family and band/bucket folds run as vectorized
# layers. ~6 s at sf0.01, ~12 s at sf0.1 per minhash oracle.
# ---------------------------------------------------------------------------

def _xxh_minhash_common_ctes() -> str:
    """CTE fragment (leading comma, splices after _SHINGLE_CTE) defining:
    xperh  — one row per DISTINCT shingle: signed hash h + p0..p15
             (p_i = xxhash64(i, h), the production minhash family);
    xhsh   — (doc_id, h) distinct hashed-shingle rows;
    xsigs  — (doc_id, s0..s15) per-doc minhash signature
             (mirrors minhash_signatures: array_min over xxhash64(i, ·))."""
    from dic_a1_spark.functions.xxh64_sql import (
        cte_chain,
        merge_layer_plans,
        py_xxh64_int,
        xxh64_fold_layers,
        xxh64_str_sql,
    )

    seeds = [py_xxh64_int(i, 42) for i in range(MINHASH_HASHES)]
    plans = [
        xxh64_fold_layers(["h"], f"p{i}", seed=seeds[i])
        for i in range(MINHASH_HASHES)
    ]
    frag, last = cte_chain(
        "xdshh", merge_layer_plans(plans), "xph", carry=["shingle", "h"]
    )
    pcols = ", ".join(f"p{i}" for i in range(MINHASH_HASHES))
    mins = ", ".join(f"min(p.p{i}) AS s{i}" for i in range(MINHASH_HASHES))
    return f""",
xdsh AS MATERIALIZED (SELECT DISTINCT shingle FROM sh),
xdshh AS MATERIALIZED (
    SELECT shingle, {xxh64_str_sql('shingle')} AS h FROM xdsh
){frag},
xperh AS MATERIALIZED (SELECT shingle, h, {pcols} FROM {last}),
xhsh AS MATERIALIZED (
    SELECT DISTINCT s.doc_id, p.h FROM sh s JOIN xperh p USING (shingle)
),
xsigs AS MATERIALIZED (
    SELECT s.doc_id, {mins}
    FROM sh s JOIN xperh p USING (shingle)
    GROUP BY s.doc_id
)"""


def _xxh_minhash_pairs_oracle() -> str:
    """Twin of dedup_minhash_pairs: band hashes xxhash64(sig[4b..4b+3]),
    candidates = distinct same-band matches (the Spark side's
    first-matching-band device is just a shuffle-free DISTINCT), then
    exact-Jaccard verification over the hashed-shingle sets with the
    production's n / (|A| + |B| - n) double arithmetic."""
    from dic_a1_spark.functions.xxh64_sql import (
        cte_chain,
        merge_layer_plans,
        xxh64_fold_layers,
    )

    plans = [
        xxh64_fold_layers(
            [f"s{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)], f"bh{b}"
        )
        for b in range(MINHASH_BANDS)
    ]
    frag, last = cte_chain(
        "xsigs", merge_layer_plans(plans), "xbh",
        carry=["doc_id"] + [f"s{i}" for i in range(MINHASH_HASHES)],
    )
    unpivot = "\n    UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, bh{b} AS band_hash FROM {last}"
        for b in range(MINHASH_BANDS)
    )
    return f"""
        WITH {_SHINGLE_CTE}{_xxh_minhash_common_ctes()}{frag},
xbands AS MATERIALIZED (
    {unpivot}
),
xcand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
    FROM xbands a
    JOIN xbands b ON a.band_id = b.band_id
                 AND a.band_hash = b.band_hash
                 AND a.doc_id < b.doc_id
),
xshared AS MATERIALIZED (
    SELECT h1.doc_id AS doc1, h2.doc_id AS doc2, count(*) AS n_shared
    FROM xhsh h1 JOIN xhsh h2 ON h1.h = h2.h AND h1.doc_id < h2.doc_id
    GROUP BY h1.doc_id, h2.doc_id
)
SELECT doc1, doc2, jaccard FROM (
    SELECT c.doc1, c.doc2,
           CAST(x.n_shared AS DOUBLE)
               / CAST(z1.n_sh + z2.n_sh - x.n_shared AS DOUBLE) AS jaccard
    FROM xcand c
    JOIN xshared x ON x.doc1 = c.doc1 AND x.doc2 = c.doc2
    JOIN sizes z1 ON z1.doc_id = c.doc1
    JOIN sizes z2 ON z2.doc_id = c.doc2
)
WHERE jaccard >= {JACCARD_THRESHOLD}
    """


def _xxh_bipartite_lp_sql(edges_cte: str, n_iter: int) -> str:
    """Unrolled bipartite min-label propagation over (doc_id, bucket)
    edges in CTE `edges_cte` — EXACTLY label_propagate's iteration:
    bucket_label = min(member labels), then label <- least(label,
    min(bucket labels), with docs outside the graph keeping their own
    label). Spark's early-exit only skips fixed-point iterations, so a
    full unroll of the same budget yields identical labels."""
    parts = [
        ",\nlp0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM documents)"
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""",
lp{k} AS MATERIALIZED (
    SELECT d.doc_id, least(d.label, coalesce(m.minlab, d.label)) AS label
    FROM lp{k - 1} d
    LEFT JOIN (
        SELECT e2.doc_id, min(bm.blab) AS minlab
        FROM {edges_cte} e2
        JOIN (
            SELECT e.bucket, min(p.label) AS blab
            FROM {edges_cte} e JOIN lp{k - 1} p USING (doc_id)
            GROUP BY e.bucket
        ) bm USING (bucket)
        GROUP BY e2.doc_id
    ) m USING (doc_id)
)"""
        )
    parts.append(f"\nSELECT doc_id, label AS group_id FROM lp{n_iter}")
    return "".join(parts)


def _pair_graph_lp_sql(
    pairs_sql: str, a: str, b: str, node: str, table: str, n_iter: int
) -> str:
    """Unrolled min-label propagation over the pair graph whose edges are
    columns `a`, `b` of `pairs_sql`: n_iter iterations of
    label(v) <- min(label(v), min neighbour label) over every `node` of
    `table`, each one CTE (no recursion: both sides run the same fixed
    depth, see min_label_loop). Nodes outside the graph keep their own
    id."""
    parts = [
        f"""
        WITH pairs AS MATERIALIZED (SELECT {a}, {b} FROM ({pairs_sql})),
        edges AS MATERIALIZED (
            SELECT {a} AS src, {b} AS dst FROM pairs
            UNION ALL
            SELECT {b} AS src, {a} AS dst FROM pairs
        ),
        lp0 AS MATERIALIZED (SELECT {node}, {node} AS label FROM {table})"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""",
        lp{k} AS MATERIALIZED (
            SELECT d.{node},
                   least(d.label, coalesce(m.minlab, d.label)) AS label
            FROM lp{k - 1} d
            LEFT JOIN (
                SELECT e.src AS {node}, min(p.label) AS minlab
                FROM edges e JOIN lp{k - 1} p ON p.{node} = e.dst
                GROUP BY e.src
            ) m ON m.{node} = d.{node}
        )"""
        )
    parts.append(f"\n        SELECT {node}, label AS group_id FROM lp{n_iter}")
    return "".join(parts)


def _xxh_minhash_groups_oracle() -> str:
    """Twin of dedup_minhash_groups: bucket = xxhash64(b, sig[4b..4b+3])
    (INT band-id prefix constant-folded into the seed), then the
    production's n_iter=3 label-propagation budget unrolled."""
    from dic_a1_spark.functions.xxh64_sql import (
        cte_chain,
        merge_layer_plans,
        xxh64_fold_layers,
    )

    plans = [
        xxh64_fold_layers(
            [f"s{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)],
            f"bk{b}",
            int_prefix=(b,),
        )
        for b in range(MINHASH_BANDS)
    ]
    frag, last = cte_chain(
        "xsigs", merge_layer_plans(plans), "xbk",
        carry=["doc_id"] + [f"s{i}" for i in range(MINHASH_HASHES)],
    )
    unpivot = "\n    UNION ALL ".join(
        f"SELECT doc_id, bk{b} AS bucket FROM {last}"
        for b in range(MINHASH_BANDS)
    )
    return f"""
        WITH {_SHINGLE_CTE}{_xxh_minhash_common_ctes()}{frag},
xe AS MATERIALIZED (
    {unpivot}
){_xxh_bipartite_lp_sql('xe', 3)}
    """


def _xxh_simhash_common_ctes() -> str:
    """CTE fragment defining xsig: (doc_id, sig BIGINT, usig HUGEINT) —
    the production 64-bit SimHash (majority vote per bit over DISTINCT
    token hashes; exact ties -> 0; bit 63 packs as Long.MIN_VALUE via the
    unsigned-sum -> two's-complement conversion)."""
    from dic_a1_spark.functions.xxh64_sql import (
        to_signed_sql,
        xxh64_str_sql_unsigned,
    )

    counts = ",\n           ".join(
        f"sum(CAST((u >> {j}) & 1 AS BIGINT)) AS c{j}" for j in range(64)
    )
    pack = " + ".join(
        f"CASE WHEN 2 * c{j} > n THEN CAST({1 << j} AS HUGEINT)"
        f" ELSE CAST(0 AS HUGEINT) END"
        for j in range(64)
    )
    return f"""
xdt AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS w FROM documents
),
xwt AS MATERIALIZED (SELECT DISTINCT w FROM xdt),
xwh AS MATERIALIZED (
    SELECT w, {xxh64_str_sql_unsigned('w')} AS u FROM xwt
),
xcnt AS MATERIALIZED (
    SELECT d.doc_id, count(*) AS n,
           {counts}
    FROM xdt d JOIN xwh h USING (w)
    GROUP BY d.doc_id
),
xusig AS MATERIALIZED (
    SELECT doc_id, ({pack}) AS usig FROM xcnt
),
xsig AS MATERIALIZED (
    SELECT doc_id, {to_signed_sql('usig')} AS sig, usig FROM xusig
)"""


def _xxh_simhash_pairs_oracle() -> str:
    """Twin of dedup_simhash_pairs: 16-bit band blocking on the unsigned
    signature, DISTINCT same-band candidates, hamming via
    bit_count(xor) <= 3 (both engines: two's-complement popcount)."""
    unpivot = "\n    UNION ALL ".join(
        f"SELECT doc_id, sig, {k} AS band_id,"
        f" CAST((usig >> {16 * k}) & 65535 AS BIGINT) AS band_val FROM xsig"
        for k in range(4)
    )
    return f"""
        WITH {_xxh_simhash_common_ctes()},
xsb AS MATERIALIZED (
    {unpivot}
),
xscand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
           a.sig AS s1, b.sig AS s2
    FROM xsb a
    JOIN xsb b ON a.band_id = b.band_id AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming
FROM xscand
WHERE bit_count(xor(s1, s2)) <= 3
    """


def _xxh_simhash_groups_oracle() -> str:
    """Twin of dedup_simhash_groups: bucket = xxhash64(k, band_val)
    (INT prefix + BIGINT band value), production n_iter=8 budget."""
    from dic_a1_spark.functions.xxh64_sql import (
        cte_chain,
        merge_layer_plans,
        xxh64_fold_layers,
    )

    plans = [
        xxh64_fold_layers([f"bv{k}"], f"bk{k}", int_prefix=(k,))
        for k in range(4)
    ]
    bvals = ", ".join(
        f"CAST((usig >> {16 * k}) & 65535 AS BIGINT) AS bv{k}" for k in range(4)
    )
    frag, last = cte_chain(
        "xsbv", merge_layer_plans(plans), "xskk", carry=["doc_id"]
    )
    unpivot = "\n    UNION ALL ".join(
        f"SELECT doc_id, bk{k} AS bucket FROM {last}" for k in range(4)
    )
    return f"""
        WITH {_xxh_simhash_common_ctes()},
xsbv AS MATERIALIZED (SELECT doc_id, {bvals} FROM xsig){frag},
xse AS MATERIALIZED (
    {unpivot}
){_xxh_bipartite_lp_sql('xse', 8)}
    """


ORACLES["dedup_minhash_pairs"] = _xxh_minhash_pairs_oracle()
ORACLES["dedup_minhash_groups"] = _xxh_minhash_groups_oracle()
ORACLES["dedup_simhash_pairs"] = _xxh_simhash_pairs_oracle()
ORACLES["dedup_simhash_groups"] = _xxh_simhash_groups_oracle()
