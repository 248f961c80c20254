"""Oracle + semantics checks for the md5-family MinHash-LSH
(dic_a1_spark/operators/lsh.py) — the hash-verified twin of the
xxhash64 production pipeline in operators/dedup.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dic_a1_spark.operators import dedup, lsh
from tests import reference_impl
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.oracle_utils import compare


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT], ids=["sf0.001", "sf0.01"])
def test_matches_oracle(spark, sf_dir):
    compare(
        spark,
        lsh.ORACLES["dedup_minhash_md5_pairs"],
        lsh.dedup_minhash_md5_pairs,
        sf_dir,
        "dedup_minhash_md5_pairs",
    )


def test_pairs_subset_of_exact_jaccard(spark):
    """LSH emits only verified pairs: every output pair must appear in the
    exact-Jaccard ground truth with the identical jaccard value (LSH can
    lose recall, never precision)."""
    got = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in lsh.dedup_minhash_md5_pairs(spark, SF_CORRECT).collect()
    }
    truth = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.dedup_jaccard_pairs(spark, SF_CORRECT).collect()
    }
    assert got, "LSH found no pairs at sf0.01 — vacuous test"
    for pair, j in got.items():
        assert pair in truth and truth[pair] == j, pair


def test_recall_vs_exact_jaccard(spark):
    """At jaccard >= 0.5 with 16 hashes / 4 bands of 4,
    P(candidate) = 1-(1-s^4)^4 >= 0.23; on the clustered testdata dups
    (mostly near-identical, s ~ 0.8+) empirical recall should be high."""
    got = {
        (r["doc1"], r["doc2"])
        for r in lsh.dedup_minhash_md5_pairs(spark, SF_CORRECT).collect()
    }
    truth = {
        (r["doc1"], r["doc2"])
        for r in dedup.dedup_jaccard_pairs(spark, SF_CORRECT).collect()
    }
    assert len(got & truth) >= 0.6 * len(truth), (len(got), len(truth))


def test_signatures_map_only(spark):
    """Signature computation must not shuffle — the first exchange in the
    pipeline is the band join itself."""
    arrs = dedup._with_shingle_arrays(
        __import__(
            "dic_a1_spark.sources.readers", fromlist=["load_table"]
        ).load_table(spark, SF_SMOKE, "documents")
    )
    sig = lsh._md5_minhash_signatures(lsh._md5_hashed_shingles(arrs))
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT], ids=["sf0.001", "sf0.01"])
def test_groups_match_oracle(spark, sf_dir):
    """The unrolled fixed-iteration label-propagation oracle must agree
    with dedup.min_label_loop exactly — the hash certificate for the loop
    the md5 groups and embedding_neardup_groups share. (label_propagate
    is certified by the xxh64 oracles of dedup_minhash_groups and
    dedup_simhash_groups.)"""
    compare(
        spark,
        lsh.ORACLES["dedup_minhash_md5_groups"],
        lsh.dedup_minhash_md5_groups,
        sf_dir,
        "dedup_minhash_md5_groups",
    )


def test_md5_groups_release_what_they_persist(spark):
    """The labels are materialized before the query returns, so nothing
    it persisted (pairs, their signatures and shingle arrays, the loop's
    adjacency) stays in the session's cache."""
    spark.catalog.clearCache()
    lsh.dedup_minhash_md5_groups(spark, SF_SMOKE).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_groups_cover_pairs_one_row_per_doc(spark):
    """Groups invariant: both ends of every verified pair share a label;
    exactly one row per document; unpaired docs keep their own id."""
    from dic_a1_spark.sources.readers import load_table

    labels = {
        r["doc_id"]: r["group_id"]
        for r in lsh.dedup_minhash_md5_groups(spark, SF_CORRECT).collect()
    }
    assert len(labels) == load_table(spark, SF_CORRECT, "documents").count()
    pairs = lsh.dedup_minhash_md5_pairs(spark, SF_CORRECT).collect()
    assert pairs, "no verified pairs at sf0.01 — vacuous"
    paired = set()
    for r in pairs:
        assert labels[r["doc1"]] == labels[r["doc2"]], (r["doc1"], r["doc2"])
        paired.update((r["doc1"], r["doc2"]))
    for doc_id, g in labels.items():
        if doc_id not in paired:
            assert g == doc_id


@pytest.mark.parametrize(
    "name", ["dedup_simhash_md5_pairs", "dedup_simhash_md5_groups"]
)
def test_simhash_md5_matches_oracle(spark, name):
    compare(spark, lsh.ORACLES[name], lsh.QUERIES[name], SF_CORRECT, name)


def test_simhash_md5_pairs_properties(spark):
    """Verified pairs must honor the hamming bound against independently
    recomputed signatures, exercise BOTH accept distances, and be
    symmetric-free (doc1 < doc2 exactly once)."""
    sigs = {
        r["doc_id"]: r["sig"]
        for r in lsh._md5_simhash_signatures(
            lsh._md5_token_bases(
                spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
            )
        ).collect()
    }
    rows = lsh.dedup_simhash_md5_pairs(spark, SF_CORRECT).collect()
    assert rows
    seen = set()
    dists = set()
    for r in rows:
        assert r["doc1"] < r["doc2"]
        key = (r["doc1"], r["doc2"])
        assert key not in seen, "duplicate pair (band dedup broken)"
        seen.add(key)
        h = bin(sigs[r["doc1"]] ^ sigs[r["doc2"]]).count("1")
        assert h == r["hamming"] <= lsh.SIMHASH_MD5_HAMMING
        dists.add(h)
    assert dists == set(range(lsh.SIMHASH_MD5_HAMMING + 1))


def test_simhash_md5_groups_cover_pairs(spark):
    """Two paired docs always share a group; one row per document."""
    pairs = lsh.dedup_simhash_md5_pairs(spark, SF_CORRECT).collect()
    groups = {
        r["doc_id"]: r["group_id"]
        for r in lsh.dedup_simhash_md5_groups(spark, SF_CORRECT).collect()
    }
    n_docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").count()
    assert len(groups) == n_docs
    for r in pairs:
        assert groups[r["doc1"]] == groups[r["doc2"]], (r["doc1"], r["doc2"])


def test_simhash_md5_signature_fuzz_matches_python_reference(spark):
    """Adversarial token multisets through the Column-expression 40-bit
    SimHash must match a plain-Python reference computing the identical
    md5-base derivation and majority vote — the same cross-engine parity
    argument the DuckDB oracle rests on, exercised on tie-heavy and
    single-token inputs the driver corpus never produces."""
    import hashlib
    import random

    rng = random.Random(20260814)
    # letter-only vocab: the shared tokenizer strips digits/punct, so
    # tokens must survive translate() unchanged for the reference to
    # mirror the Spark side byte-for-byte
    import itertools

    vocab = [
        "".join(p) for p in itertools.product("abcde", repeat=3)
    ][:40] + ["é", "ß", "日本", "x" * 50]
    docs = [
        ["solo"],                          # single token: sig == base's bits
        ["a", "b"],                        # every bit vote is an exact tie -> 0
        vocab[:4] * 3,                     # duplicates collapse (distinct)
    ]
    for _ in range(100):
        docs.append(rng.sample(vocab, rng.randint(1, 12)))

    def base(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:10], 16)

    def ref_sig(words: list[str]) -> int:
        bases = sorted({base(w) for w in words})
        n = len(bases)
        sig = 0
        for j in range(lsh.SIMHASH_MD5_BITS):
            c = sum((b >> j) & 1 for b in bases)
            if 2 * c > n:
                sig |= 1 << j
        return sig

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["sig"]
        for r in lsh._md5_simhash_signatures(lsh._md5_token_bases(df)).collect()
    }
    from dic_a1_spark.functions.text import tokenize  # noqa: F401
    # the Spark side tokenizes `text`; mirror it: our vocab avoids the
    # tokenizer's stripped charset except case (lower() applied)
    for i, words in enumerate(docs):
        toks = [w.lower() for w in words]
        assert got[i] == ref_sig(toks), (i, words)
    # the exact-tie document must vote every bit to 0 only where bits
    # disagree; re-check directly
    a, b = base("a"), base("b")
    expect_ab = a & b  # tie (2*1 == 2) -> 0 unless both bases share the bit
    assert got[1] == expect_ab


def test_md5_minhash_sig_batch_matches_fold_form(spark):
    """r12 optimization pin: the shared Arrow packer under the md5-affine
    transforms must be bit-identical to the interpreted fold twin — this
    family's all-positive 40-bit base values are exactly the shape that
    caught the reduceat sentinel-segment bug (a spurious 0 in the last
    doc's segment wins the min)."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    arrs = lsh._with_shingle_arrays(docs)
    hs = lsh._md5_hashed_shingles(arrs)
    pack = {r["doc_id"]: tuple(r["sig"]) for r in lsh._md5_minhash_signatures(hs).collect()}
    fold = {r["doc_id"]: tuple(r["sig"]) for r in reference_impl._md5_minhash_signatures_fold(hs).collect()}
    assert pack == fold
