"""Oracle + semantics checks for int8 embedding quantization."""

from __future__ import annotations

import pytest

from dic_a1_spark.operators import quantize
from dic_a1_spark.operators.similarity import TOP_K, knn_cosine_bruteforce
from dic_a1_spark.plans.explain import formatted_plan
from tests.conftest import SF_CORRECT
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(quantize.ORACLES))
def test_quantize_oracle(spark, name):
    compare(spark, quantize.ORACLES[name], quantize.QUERIES[name], SF_CORRECT, name)


def test_qvec_range_and_saturation(spark):
    rows = quantize.embedding_quantize_int8(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        # qvec is a space-joined string (driver-canonicalizer-safe)
        assert all(-127 <= int(q) <= 127 for q in r["qvec"].split()), r["vec_id"]
        # absmax scheme: at least one element saturates (no zero vectors
        # in the driver data, asserted by the scale fallback never firing)
        assert r["n_sat"] >= 1, r["vec_id"]
        assert r["scale_r"] > 0


def test_error_certificate_holds_everywhere(spark):
    rows = quantize.quantize_error_certificate(spark, SF_CORRECT).collect()
    assert rows and all(r["within_half_step"] for r in rows)


def test_quantized_knn_recall_vs_fp32(spark):
    """int8 retrieval must agree with fp32 brute force on nearly all of
    the top-K (the whole point of shipping quantized vectors). Exact
    ordering can differ near ties, so assert recall, not equality."""
    fp = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_cosine_bruteforce(spark, SF_CORRECT).collect()
    }
    q8 = {
        (r["query_id"], r["neighbor_id"])
        for r in quantize.knn_cosine_quantized(spark, SF_CORRECT).collect()
    }
    assert len(q8) == len(fp)
    recall = len(fp & q8) / len(fp)
    assert recall >= 0.8, f"int8 top-{TOP_K} recall {recall:.2f} vs fp32"


def test_quantize_is_map_only(spark):
    plan = formatted_plan(quantize.embedding_quantize_int8(spark, SF_CORRECT))
    assert "Exchange" not in plan


def test_quantize_fuzz_matches_python_reference(spark):
    """Adversarial vectors (zeros, denormal-scale, float32-extreme, sign
    mixes) through the Column-expression quantizer must match a plain
    Python reference doing the identical IEEE-754 op sequence — the same
    parity argument the DuckDB oracle rests on, exercised on inputs the
    driver corpus never produces."""
    import math
    import random

    from dic_a1_spark.operators.quantize import Q_MAX, _with_quantized

    rng = random.Random(20260814)
    vecs = [
        [0.0] * 8,                                   # all-zero: scale fallback
        [1e-38] * 8,                                 # near float32 denormal
        [3e38, -3e38] * 4,                           # near float32 max
        [1.0] + [0.0] * 7,                           # one-hot
        [-1e-6] * 8,                                 # all tiny negative
    ]
    for _ in range(200):
        mag = 10.0 ** rng.uniform(-30, 30)
        vecs.append(
            [rng.uniform(-mag, mag) for _ in range(rng.randint(1, 16))]
        )
    import numpy as np

    # float32 round-trip: the engine stores embeddings as array<float>
    vecs = [[float(np.float32(x)) for x in v] for v in vecs]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: (r["scale"], list(r["qvec"]))
        for r in _with_quantized(df).select("vec_id", "scale", "qvec").collect()
    }
    for i, v in enumerate(vecs):
        m = max(abs(x) for x in v)
        scale = m / Q_MAX if m > 0 else 1.0
        want = [int(math.floor(x / scale + 0.5)) for x in v]
        assert got[i][0] == scale, (i, got[i][0], scale)
        assert got[i][1] == want, (i, v, got[i][1], want)
        assert all(-Q_MAX - 1 <= q <= Q_MAX + 1 for q in want)
