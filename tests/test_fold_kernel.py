"""The exact-fold kernel every Arrow-batch vector scorer shares
(operators/similarity.py: _fold_dot, _fold_cosine, _fold_self_cosine,
_block_self_sims, _collect_side), checked without Spark.

Every batch sim must be BIT-equal to a plain-Python left-to-right
accumulation — the operation sequence of the Spark fold and of DuckDB's
list_dot_product — or the hash-gated oracles drift. Inputs are random
float32 vectors plus adversarial ones: zero-norm, denormal, +-3e38 and
one-hot. A zero-norm side must give NaN (shipped to Spark as NULL).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from dic_a1_spark.operators.pq import PQ_M, PQ_SUBDIM, _np_assign_codes, _np_codebook_parts
from dic_a1_spark.operators.similarity import (
    _block_self_sims,
    _collect_side,
    _fold_cosine,
    _fold_dot,
    _fold_self_cosine,
)

DIM = 64


def _py_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _py_cos(a, b) -> float:
    num = _py_dot(a, b)
    den = math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
    if den == 0:
        return math.nan if num == 0 else math.copysign(math.inf, num)
    return num / den


def _vectors(seed: int) -> np.ndarray:
    """Random float32 rows followed by the adversarial rows, as the
    float64 matrix the scorers stack from array<float> columns."""
    rng = random.Random(seed)
    rows = [[rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(12)]
    rows += [[rng.gauss(0, 1e3) for _ in range(DIM)] for _ in range(4)]
    rows.append([0.0] * DIM)  # zero norm
    rows.append([1e-45 * (i % 3) for i in range(DIM)])  # denormal
    rows.append([3e38 if i % 2 else -3e38 for i in range(DIM)])  # float32 extremes
    rows.append([3e38] * DIM)
    for hot in (0, 17, DIM - 1):  # one-hot
        rows.append([1.0 if i == hot else 0.0 for i in range(DIM)])
    return np.array(rows, dtype=np.float32).astype(np.float64)


def _assert_bit_equal(got: np.ndarray, want: np.ndarray) -> None:
    assert got.shape == want.shape and got.dtype == np.float64
    nan = np.isnan(want)
    assert np.array_equal(np.isnan(got), nan)
    assert np.array_equal(got[~nan].view(np.int64), want[~nan].view(np.int64))


def test_fold_dot_rowwise_matches_python_fold():
    A, B = _vectors(1), _vectors(2)
    want = np.array([_py_dot(a, b) for a, b in zip(A.tolist(), B.tolist())])
    _assert_bit_equal(_fold_dot(A, B), want)


def test_fold_dot_matrix_matches_python_fold():
    V, C = _vectors(3), _vectors(4)[:9]
    want = np.array([[_py_dot(v, c) for c in C.tolist()] for v in V.tolist()])
    _assert_bit_equal(_fold_dot(V[:, :, None], C.T[None]), want)


def test_fold_cosine_matches_python_fold_and_zero_norm_is_nan():
    V, C = _vectors(5), _vectors(6)
    cn = np.sqrt(_fold_dot(C, C))
    got = _fold_cosine(V, C, cn)
    want = np.array([[_py_cos(v, c) for c in C.tolist()] for v in V.tolist()])
    _assert_bit_equal(got, want)
    zero = int(np.flatnonzero(~V.any(axis=1))[0])
    assert np.isnan(got[zero, :]).all()  # zero-norm vector side
    assert np.isnan(got[:, zero]).all()  # zero-norm centroid side


def test_fold_self_cosine_matches_python_fold():
    V = _vectors(10)
    want = np.array([[_py_cos(a, b) for b in V.tolist()] for a in V.tolist()])
    _assert_bit_equal(_fold_self_cosine(V), want)


def test_block_self_sims_match_python_fold():
    V = _vectors(7)
    ids = np.arange(len(V), dtype=np.int64)[::-1] * 10  # arrive unsorted
    blocks = np.array([i % 2 for i in range(len(V))])
    blocks[-1] = 9  # a singleton block: no pairs, skipped
    pdf = pd.DataFrame(
        {"centroid_id": blocks, "vec_id": ids, "embedding": list(V.astype(np.float32))}
    )
    half = len(pdf) // 2
    out = {b: (i, S) for b, i, S in _block_self_sims(iter([pdf[:half], pdf[half:]]))}
    assert sorted(out) == [0, 1]
    by_id = dict(zip(ids.tolist(), V.tolist()))
    for blk, (got_ids, S) in out.items():
        assert got_ids.tolist() == sorted(ids[blocks == blk].tolist())
        M = [by_id[i] for i in got_ids.tolist()]
        _assert_bit_equal(S, np.array([[_py_cos(a, b) for b in M] for a in M]))


def test_collect_side_sorts_stacks_and_empty_is_none():
    class Rows:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    assert _collect_side(Rows([])) is None
    ids, M = _collect_side(Rows([(7, [1.5, 2.0]), (3, [0.25, -1.0]), (5, [0.0, 0.0])]))
    assert ids.dtype == np.int64 and ids.tolist() == [3, 5, 7]
    assert M.dtype == np.float64
    assert M.tolist() == [[0.25, -1.0], [0.0, 0.0], [1.5, 2.0]]


def test_pq_code_assignment_matches_python_fold():
    """d2 = |v|^2 + |c|^2 - 2*dot(v, c) per subspace, three folds, argmin
    with ties to the lowest code — the pq oracle's recipe."""
    V = _vectors(8)
    C = _vectors(9)[:10]
    C[3] = C[2]  # a tie: the lower code wins
    cb_sub, cb_norm = _np_codebook_parts(C)
    got = _np_assign_codes(V, cb_sub, cb_norm)
    for r, v in enumerate(V.tolist()):
        for m in range(PQ_M):
            vs = v[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
            d2 = []
            for c in C.tolist():
                cs = c[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                d2.append(_py_dot(vs, vs) + _py_dot(cs, cs) - 2.0 * _py_dot(vs, cs))
            assert got[r, m] == int(np.argmin(np.array(d2))), (r, m)
