from __future__ import annotations

import pytest

from dic_a1_spark.operators import similarity
from dic_a1_spark.sources.readers import load_table
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(similarity.ORACLES))
def test_similarity_oracle(spark, name):
    compare(
        spark, similarity.ORACLES[name], similarity.QUERIES[name], SF_CORRECT, name
    )


def test_block_stage_partitions_sized_to_blocks_and_cores(spark):
    """The block scoring stage runs one Python task per partition, so its
    repartition holds no more partitions than blocks at the test shape
    (8 blocks) and keeps ~8 blocks per partition at the 1,500-block scale
    shape. Read from the plan: no job beyond the centroid collect."""
    sc = spark.sparkContext
    e = load_table(spark, SF_SMOKE, "embeddings")
    group = "block-partitions-pin"
    sc.setJobGroup(group, group)
    try:
        counts = {}
        for ivf_k in (8, 1500):
            plan = similarity._block_partitions(
                e, ivf_k=ivf_k, nprobe=3
            )._jdf.queryExecution().optimizedPlan()
            assert plan.nodeName() == "RepartitionByExpression"
            counts[ivf_k] = plan.numPartitions()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts[8] <= 8
    assert counts[8] == min(8, sc.defaultParallelism)
    assert counts[1500] == 187
    assert len(jobs) == 2  # one centroid collect per call


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=2 of 8 lists should recover a solid share of true
    top-5 neighbors (random 64-dim data is hard for IVF; bound loosely)."""
    brute = similarity.QUERIES["knn_cosine_bruteforce"](spark, SF_SMOKE).collect()
    ivf = similarity.QUERIES["knn_cosine_ivf"](spark, SF_SMOKE).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in brute}
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.2, f"IVF recall suspiciously low: {recall}"
    # every IVF result must be a real vector pair with sane sim
    for r in ivf:
        assert -1.0001 <= r["sim"] <= 1.0001


def test_label_centroid_cohesion(spark):
    """Vectors should on average sit closer to their own label's centroid
    than to the global average similarity — a sanity property of the
    vector-aggregation chain (posexplode -> per-dim mean -> cosine)."""
    rows = similarity.QUERIES["label_centroid_sim"](spark, SF_SMOKE).collect()
    assert rows and all(-1.0001 <= r["centroid_sim"] <= 1.0001 for r in rows)
    mean_sim = sum(r["centroid_sim"] for r in rows) / len(rows)
    assert mean_sim > 0, "own-centroid similarity should be positive on average"


def test_neardup_blocked_recall(spark):
    """The registered IVF-blocked near-dup query must recover >= 0.9 of the
    exact all-pairs ground truth at the same threshold (multi-probe
    nprobe=3 of 8 lists; random 64-dim vectors are the adversarial case
    for IVF, so this bound is meaningful)."""
    exact = {
        (r["id1"], r["id2"])
        for r in similarity.embedding_neardup_pairs(
            spark, SF_SMOKE, threshold=similarity.NEARDUP_SIM, id_bound=1 << 30
        ).collect()
    }
    blocked = {
        (r["id1"], r["id2"])
        for r in similarity.QUERIES["embedding_neardup_blocked"](
            spark, SF_SMOKE
        ).collect()
    }
    assert exact, "ground truth unexpectedly empty — threshold too high for testdata"
    # no false positives: blocked pairs are verified with the same exact cosine
    assert blocked <= exact
    recall = len(blocked & exact) / len(exact)
    assert recall >= 0.9, f"blocked near-dup recall too low: {recall}"


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT, "/root/testdata/sf0.1"],
                         ids=["sf0.001", "sf0.01", "sf0.1"])
def test_ivf_assignments_fast_matches_exact(spark, sf_dir):
    """The matmul assignment shares the exact query's oracle, so it must
    be VALUE-identical to ivf_assignments — rounded-4dp ranking and
    ascending-id tie-breaks included — at every test scale (sf0.1 has the
    most values, the strongest probe of BLAS-vs-fold rounding edges)."""
    cols = ["vec_id", "centroid_id", "centroid_sim"]
    exact = sorted(
        tuple(r[c] for c in cols)
        for r in similarity.QUERIES["ivf_assignments"](spark, sf_dir).collect()
    )
    fast = sorted(
        tuple(r[c] for c in cols)
        for r in similarity.QUERIES["ivf_assignments_fast"](spark, sf_dir).collect()
    )
    assert exact == fast


def test_neardup_fast_registered_query_runs_with_data_sized_codebook(spark):
    """The registered fast near-dup sizes K from the corpus; at sf0.001
    that floors to IVF_K, so its pairs and sims must equal the
    registered fixed-K query's."""
    fixed, sized = (
        sorted(map(tuple, similarity.QUERIES[name](spark, SF_SMOKE).collect()))
        for name in ("embedding_neardup_blocked", "embedding_neardup_blocked_fast")
    )
    assert similarity._data_sized_k(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    ) == similarity.IVF_K
    assert fixed and sized == fixed


def test_neardup_groups_cover_pairs_one_row_per_vector(spark):
    """Every verified near-dup pair lands in one group; every vector gets
    exactly one label (linear output, the groups-ladder invariant)."""
    labels = {
        r["vec_id"]: r["group_id"]
        for r in similarity.QUERIES["embedding_neardup_groups"](
            spark, SF_SMOKE
        ).collect()
    }
    from dic_a1_spark.sources.readers import load_table

    assert len(labels) == load_table(spark, SF_SMOKE, "embeddings").count()
    pairs = similarity.QUERIES["embedding_neardup_blocked"](spark, SF_SMOKE).collect()
    assert pairs, "no verified pairs at sf0.001 — vacuous"
    for r in pairs:
        assert labels[r["id1"]] == labels[r["id2"]], (r["id1"], r["id2"])


def test_neardup_groups_raise_when_label_loop_budget_is_spent(spark, monkeypatch):
    """The contracted-graph label loop fails loudly instead of returning
    unconverged labels. (At the real budget, test_similarity_oracle
    checks the converged rows against the oracle.)"""
    monkeypatch.setattr(similarity, "EMB_LP_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="embedding_neardup_groups.*=1 rounds"):
        similarity.QUERIES["embedding_neardup_groups"](spark, SF_SMOKE)


@pytest.mark.parametrize(
    "sf_dir", [SF_CORRECT, "/root/testdata/sf0.1"], ids=["sf0.01", "sf0.1"]
)
def test_groups_oracle_unroll_covers_convergence(spark, sf_dir, request):
    """The groups oracle unrolls EMB_LP_ITERS min-label iterations; if
    the pair graph ever needs more, the oracle would freeze short of the
    true components while Spark converges — this pins the measured
    convergence depth strictly under the unroll (with headroom)."""
    pairs = [
        (r["id1"], r["id2"])
        for r in similarity.QUERIES["embedding_neardup_blocked_fast"](
            spark, sf_dir
        ).collect()
    ]
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    lab = {d: d for d in adj}
    iters = 0
    while True:
        new = {
            d: min([lab[d]] + [lab[x] for x in adj[d]]) for d in adj
        }
        if new == lab:
            break
        lab = new
        iters += 1
    assert iters <= similarity.EMB_LP_ITERS // 2, (
        f"convergence depth {iters} eats the unroll headroom "
        f"(EMB_LP_ITERS={similarity.EMB_LP_ITERS})"
    )
