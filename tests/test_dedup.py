from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from dic_a1_spark.operators import dedup
from tests import reference_impl
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(dedup.ORACLES))
def test_dedup_oracle(spark, name):
    compare(spark, dedup.ORACLES[name], dedup.QUERIES[name], SF_CORRECT, name)


def test_minhash_recall_and_precision(spark):
    """LSH candidates verified by exact jaccard: precision is exact by
    construction; recall over threshold pairs should be high."""
    exact = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.QUERIES["dedup_jaccard_pairs"](spark, SF_SMOKE).collect()
    }
    mh = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.QUERIES["dedup_minhash_pairs"](spark, SF_SMOKE).collect()
    }
    # precision: every minhash pair is a true >=threshold pair
    assert set(mh) <= set(exact)
    # recall on strongly-similar pairs (jaccard >= 0.8) should be >= 0.8
    strong = {p for p, j in exact.items() if j >= 0.8}
    if strong:
        got = len(strong & set(mh)) / len(strong)
        assert got >= 0.8, f"minhash recall too low: {got}"


def test_simhash_pairs_are_near_dups(spark):
    """Hamming<=3 simhash pairs at 64 bits should overwhelmingly be real
    near-duplicates; verify each reported pair has decent token overlap."""
    rows = dedup.QUERIES["dedup_simhash_pairs"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["hamming"] <= 3
        assert r["doc1"] < r["doc2"]


def test_exact_dedup_consistency(spark):
    groups = dedup.QUERIES["dedup_exact_groups"](spark, SF_SMOKE).collect()
    keep = dedup.QUERIES["dedup_exact_keep"](spark, SF_SMOKE).count()
    assert keep == len(groups)
    assert sum(g["n_docs"] for g in groups) == 500


def test_minhash_groups_cover_pairs_without_enumeration(spark):
    """Group assignment must (a) put every reported near-dup pair in one
    group, (b) put exact-duplicate texts in one group, (c) assign every
    doc exactly one group."""
    labels = {
        r["doc_id"]: r["group_id"]
        for r in dedup.QUERIES["dedup_minhash_groups"](spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert len(labels) == docs.count()

    # (a) every LSH near-dup pair shares a group after propagation
    for r in dedup.QUERIES["dedup_minhash_pairs"](spark, SF_SMOKE).collect():
        assert labels[r["doc1"]] == labels[r["doc2"]], (r["doc1"], r["doc2"])

    # (b) identical texts (with >= 3 tokens -> nonempty signature) collapse
    dup_groups = (
        docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        .collect()
    )
    for g in dup_groups:
        grp = {labels[i] for i in g["ids"]}
        assert len(grp) == 1, f"exact duplicates split across groups: {g['ids']}"


def test_simhash_groups_cover_pairs_and_stay_linear(spark):
    """The SimHash groups query is the scale-safe registered shape: (a)
    every hamming-verified simhash pair lands in one group, (b) exact
    duplicates collapse, (c) output is exactly one row per document —
    linear in corpus size even when pair output is quadratic (the
    SCALEBENCH r2 failure mode: 252M pairs from 250K amplified docs)."""
    labels = {
        r["doc_id"]: r["group_id"]
        for r in dedup.QUERIES["dedup_simhash_groups"](spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert len(labels) == docs.count()

    for r in dedup.QUERIES["dedup_simhash_pairs"](spark, SF_SMOKE).collect():
        assert labels[r["doc1"]] == labels[r["doc2"]], (r["doc1"], r["doc2"])

    dup_groups = (
        docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        .collect()
    )
    for g in dup_groups:
        grp = {labels[i] for i in g["ids"]}
        assert len(grp) == 1, f"exact duplicates split across groups: {g['ids']}"


def test_simhash_groups_output_linear_on_amplified_dups(spark):
    """Amplify a small corpus 20x with EXACT copies: pair output grows
    quadratically (>= C(20,2) per base doc), group output stays exactly
    n_docs rows."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(25)
        .crossJoin(F.broadcast(spark.range(20).withColumnRenamed("id", "rep")))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(100000))
        .drop("rep")
    )
    n_docs = docs.count()
    groups = dedup.simhash_label_groups(docs)
    assert groups.count() == n_docs
    # same corpus through the pairs primitive: quadratic in cluster size
    from dic_a1_spark.operators.dedup import simhash_signatures

    n_signed = simhash_signatures(docs).count()
    pairs_lower_bound = (n_signed // 20) * (20 * 19 // 2)
    assert pairs_lower_bound > n_signed  # pairs >> docs — the point


def test_minhash_signatures_deterministic(spark):
    """Regression: with multiple Python-lambda higher-order functions in
    one projection, PySpark 4.1 cross-wires the lambda variables — h0
    silently returned another hash column's value and the wiring varied
    run to run (signatures differed on every doc across two invocations
    of the same query). minhash_signatures therefore builds its 16 hash
    columns from SQL-text lambdas. Pin (a) run-to-run stability and
    (b) h0 against an independently computed min-hash."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sig1 = {r["doc_id"]: tuple(r["sig"]) for r in dedup.minhash_signatures(docs).collect()}
    sig2 = {r["doc_id"]: tuple(r["sig"]) for r in dedup.minhash_signatures(docs).collect()}
    assert sig1 == sig2

    # independent ground truth for one doc: explode + plain xxhash64 + min
    some_id = next(iter(sig1))
    arr = (
        dedup._with_shingle_arrays(docs)
        .where(F.col("doc_id") == some_id)
        .select(F.explode("shingles").alias("s"))
        .select(F.min(F.xxhash64(F.lit(0), F.xxhash64(F.col("s")))).alias("h0"))
        .collect()[0]["h0"]
    )
    assert sig1[some_id][0] == arr


def test_hot_shingle_ceiling_bounds_pairs(spark):
    """One viral shingle shared by N otherwise-unrelated docs explodes the
    inverted-index self-join into N*(N-1)/2 candidate rows. The frequency
    ceiling must prune it BEFORE the join, and must leave genuinely similar
    pairs (which share many non-viral shingles) intact."""
    # NOTE: the tokenizer strips digits (reference parity), so synthetic
    # tokens must be alphabetic-unique or they collapse to one word.
    def alpha(i):
        return "".join(chr(ord("a") + int(ch)) for ch in str(i))

    n = 60
    viral = "spam spam spam"  # one 3-token shingle present in every doc
    rows = []
    for i in range(n):
        # each doc: the viral shingle + a unique tail -> no real near-dups
        rows.append((i, f"{viral} uniq{alpha(i)} tail{alpha(i)} very{alpha(i)} much{alpha(i)}"))
    # plus one genuine near-dup pair sharing a long non-viral body
    body = " ".join(f"common{alpha(j)}" for j in range(30))
    rows.append((1000, body + " endone"))
    rows.append((1001, body + " endtwo"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    sh = dedup._with_shingles(docs)

    # without the ceiling the viral shingle alone materializes n*(n-1)/2 rows
    unbounded = dedup.jaccard_pairs_from_index(sh, threshold=0.0)
    assert unbounded.count() >= n * (n - 1) // 2

    # with the ceiling: viral shingle (df=n+? > 10) pruned, so the spam docs
    # pair with nobody; the genuine near-dup pair survives on its body
    bounded = dedup.jaccard_pairs_from_index(sh, threshold=0.5, max_shingle_df=10)
    got = {(r["doc1"], r["doc2"]) for r in bounded.collect()}
    assert got == {(1000, 1001)}

    # and the registered (ceiling-off) query semantics are unchanged:
    # same pairs at the default threshold as before the refactor
    base = dedup.jaccard_pairs_from_index(sh, threshold=0.5)
    base_pairs = {(r["doc1"], r["doc2"]) for r in base.collect()}
    assert (1000, 1001) in base_pairs


def test_minhash_sig_batch_matches_fold_form(spark):
    """r12 optimization pin: the Arrow min-signature packer
    (min_sig_batch over the numpy xxh64_long transforms) must be
    bit-identical to the interpreted 16-fold form it replaced
    (_minhash_signatures_fold) — on a real corpus AND on the hostile
    shapes the corpus never exercises (empty array, NULL array, the
    zero base value that exposed the reduceat sentinel-segment bug, and
    int64 extremes)."""
    from pyspark.sql import types as T

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    hs = dedup._with_hashed_shingles(docs)
    pack = {r["doc_id"]: tuple(r["sig"]) for r in dedup.minhash_signatures(docs).collect()}
    fold = {r["doc_id"]: tuple(r["sig"]) for r in reference_impl._minhash_signatures_fold(hs).collect()}
    assert pack == fold

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("hs", T.ArrayType(T.LongType())),
        ]
    )
    hostile = spark.createDataFrame(
        [
            (1, [0]),  # the sentinel-bug witness: min must be t(0), not t(sentinel)
            (2, []),  # array_min(empty) = NULL per element
            (3, None),  # transform(NULL) = NULL per element
            (4, [2**63 - 1, -(2**63), -1, 1]),
            (5, [7] * 200),
        ],
        schema,
    )
    sig = dedup.min_sig_batch(dedup._minhash_transforms())
    got = {r["doc_id"]: r["sig"] for r in hostile.select("doc_id", sig("hs").alias("sig")).collect()}
    exp = {r["doc_id"]: r["sig"] for r in reference_impl._minhash_signatures_fold(hostile).collect()}
    assert got == exp


def _min_label_loop_rows(spark, edges, nodes, max_rounds):
    adj = spark.createDataFrame(
        edges
        + [(b, a) for a, b in edges]
        + [(v, v) for v in nodes],
        "src long, dst long",
    )
    ids = spark.createDataFrame([(v, v) for v in nodes], "node long, label long")
    labels, converged = dedup.min_label_loop(adj, ids, max_rounds)
    return {r["node"]: r["label"] for r in labels.collect()}, converged


def test_min_label_loop_keeps_the_fixed_depth_contract(spark):
    """A path whose minimum id sits at one end needs one round per hop:
    below the diameter the loop gives exactly the depth-k labels and
    reports no convergence; with rounds to spare it gives one label and
    reports convergence. The md5 groups oracles rely on both."""
    nodes = [5, 9, 2, 8, 6, 3, 0]  # a path, 6 hops from end to end
    edges = list(zip(nodes, nodes[1:]))
    for k in (1, 3):
        got, converged = _min_label_loop_rows(spark, edges, nodes, k)
        assert got == reference_impl.min_label_rounds(edges, nodes, k)
        assert converged is False
        assert len(set(got.values())) > 1
    got, converged = _min_label_loop_rows(spark, edges, nodes, 3 * len(nodes))
    assert got == {v: 0 for v in nodes}
    assert converged is True


def test_min_label_loop_on_an_empty_graph_converges_with_no_rows(spark):
    got, converged = _min_label_loop_rows(spark, [], [], 5)
    assert got == {}
    assert converged is True
