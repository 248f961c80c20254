"""Product quantization: DuckDB value parity plus the retrieval-quality
and code-domain properties the oracles can't express."""

from __future__ import annotations

import pytest

from dic_a1_spark.operators import pq
from dic_a1_spark.operators.similarity import TOP_K, knn_cosine_bruteforce
from tests.conftest import SF_CORRECT
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(pq.QUERIES))
def test_pq_oracle(spark, name):
    compare(spark, pq.ORACLES[name], pq.QUERIES[name], SF_CORRECT, name)


def test_codes_domain_and_codebook_selfassignment(spark):
    rows = pq.embedding_pq_codes(spark, SF_CORRECT).collect()
    n_vecs = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    for r in rows:
        codes = [int(c) for c in r["codes"].split()]
        assert len(codes) == pq.PQ_M
        assert all(0 <= c < pq.PQ_K for c in codes)
    own = {
        r["vec_id"]: [int(c) for c in r["codes"].split()]
        for r in rows
        if r["vec_id"] < pq.PQ_K
    }
    sims = {
        r["vec_id"]: r["recon_sim_r"]
        for r in pq.pq_recon_certificate(spark, SF_CORRECT).collect()
    }
    for vid in own:
        # codebook members reconstruct themselves exactly
        assert sims[vid] == 1.0, vid


def test_pq_rerank_recall_vs_fp32(spark):
    """The shortlist+re-rank pipeline must recover nearly all of the
    exact top-K (the measured 0.96 at sf0.01; assert a safe floor)."""
    fp = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_cosine_bruteforce(spark, SF_CORRECT).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in pq.knn_cosine_pq(spark, SF_CORRECT).collect()
    }
    assert len(got) == len(fp)
    recall = len(fp & got) / len(fp)
    assert recall >= 0.85, f"PQ rerank top-{TOP_K} recall {recall:.2f}"
