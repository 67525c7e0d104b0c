"""The similarity vector kernel (functions/vectors.py) against the tests'
own independent references: the ``_np_q`` copies of the exact-blocked,
bucketed k-NN and bucketed near-dup tests, and plain per-row / per-term
loops. Pure numpy — no Spark session starts here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from distributed_video_analytics_flink_spark.functions.vectors import (
    _Q,
    _np_q,
    adc_lookup,
    adc_table,
    as_matrix,
    coarse_assign,
    cosine_q,
    dot_q,
    dots_q,
    pq_distances,
    pq_encode,
    self_norm_q,
    sqrt_norm_q,
)
from tests.test_exact_blocked import _np_q as _ref_q_exact
from tests.test_knn_bucketed import _np_q as _ref_q_knn
from tests.test_neardup_bucketed import _np_q as _ref_q_neardup

_REFS = (_ref_q_exact, _ref_q_knn, _ref_q_neardup)
_SETTINGS = settings(max_examples=60, deadline=None)

# embedding-like values: float32 in [-1, 1], so every quantized term
# stays far below 2^52 and floor(|t| + 0.5) is exact
_F32 = st.floats(-1.0, 1.0, width=32, allow_nan=False)


def _mat(rows: int, cols: int):
    return hnp.arrays(np.float32, (rows, cols), elements=_F32).map(
        lambda a: a.astype(np.float64)
    )


@st.composite
def _matrices(draw, max_rows: int = 6, dim: int = 8):
    n = draw(st.integers(1, max_rows))
    m = draw(st.integers(1, max_rows))
    return draw(_mat(n, dim)), draw(_mat(m, dim))


@given(st.integers(-(2**40), 2**40))
@_SETTINGS
def test_half_terms_round_away_from_zero(k):
    """An exact k.5 term rounds away from zero (Spark's and DuckDB's
    round), where np.round would round it half-to-even."""
    t = np.array([k + 0.5, -(k + 0.5)])
    away = k + 1 if k >= 0 else k  # k + 0.5 > 0 exactly when k >= 0
    assert _np_q(t).tolist() == [away, -away]
    for ref in _REFS:
        assert np.array_equal(_np_q(t), ref(t))
    assert np.round(2.5) == 2.0 and _np_q(np.array([2.5]))[0] == 3


@given(hnp.arrays(np.float64, st.integers(1, 40), elements=st.floats(-1e3, 1e3)))
@_SETTINGS
def test_quantization_matches_every_reference(t):
    q = _np_q(t * _Q)
    assert q.dtype == np.int64
    for ref in _REFS:
        assert np.array_equal(q, ref(t * _Q))


@given(st.integers(0, 12), st.integers(1, 16), st.data())
@_SETTINGS
def test_as_matrix_equals_per_row_loop(n, d, data):
    rows32 = [data.draw(hnp.arrays(np.float32, d, elements=_F32)) for _ in range(n)]
    loop = np.asarray([np.asarray(v, dtype=np.float64) for v in rows32])
    for rows in (pd.Series(rows32, dtype=object), [r.tolist() for r in rows32]):
        got = as_matrix(rows)
        assert got.dtype == np.float64
        if n:
            assert np.array_equal(got, loop)
        else:
            assert got.size == 0


@given(_matrices())
@_SETTINGS
def test_dots_and_norms_match_per_term_reference(VR):
    V, R = VR
    ref = _ref_q_exact
    assert np.array_equal(dots_q(V, R), ref(V[:, None, :] * R[None, :, :] * _Q).sum(axis=2))
    assert np.array_equal(dot_q(V, R[0]), ref(V * R[0][None, :] * _Q).sum(axis=1))
    assert np.array_equal(self_norm_q(V), ref(V * V * _Q).sum(axis=1))
    assert self_norm_q(V[0]) == ref(V[0] * V[0] * _Q).sum()
    vn = sqrt_norm_q(V)
    assert np.array_equal(vn, np.sqrt(ref(V * V * _Q).sum(axis=1).astype(np.float64)))
    # a dot is summation-order free: every term is an exact integer
    for i in range(len(V)):
        for j in range(len(R)):
            terms = [int(ref(np.array([V[i, k] * R[j, k] * _Q]))[0]) for k in range(V.shape[1])]
            assert dots_q(V, R)[i, j] == sum(terms) == sum(reversed(terms))


@given(_matrices(max_rows=5), st.data())
@_SETTINGS
def test_coarse_assignment_takes_lowest_index_on_ties(VC, data):
    """Centroids are repeated (a built tie): the first maximum wins, so
    a later duplicate of the winning row is never chosen. Centroids have
    a nonzero quantized norm (a zero one has no defined cosine)."""
    V, C = VC
    assume(np.all(self_norm_q(C) > 0))
    dup = data.draw(st.lists(st.integers(0, len(C) - 1), min_size=1, max_size=4))
    C = np.concatenate([C, C[dup]])  # late duplicates tie with their originals
    V = np.concatenate([V, C[-1:]])  # and one vector sits exactly on a duplicate
    vn, cn = sqrt_norm_q(V), sqrt_norm_q(C)
    cell, best_cos = coarse_assign(V, vn, C, cn)
    cos = _ref_q_knn(V[:, None, :] * C[None, :, :] * _Q).sum(axis=2) / (
        vn[:, None] * cn[None, :]
    )
    assert np.array_equal(cosine_q(V, vn, C, cn), cos, equal_nan=True)
    assert cell.dtype == np.int32
    for i in range(len(V)):
        if np.isnan(cos[i]).any():
            continue  # zero-norm vector: no defined winner
        top = cos[i].max()
        first = int(np.flatnonzero(cos[i] == top)[0])
        assert cell[i] == first < len(C) - len(dup)
        assert best_cos[i] == top


@st.composite
def _pq_case(draw):
    s, k, d = draw(st.integers(1, 3)), draw(st.integers(1, 4)), draw(st.integers(1, 4))
    CT = draw(_mat(s * k, d)).reshape(s, k, d)
    dup = draw(st.integers(0, k - 1))
    CT = np.concatenate([CT, CT[:, dup : dup + 1]], axis=1)  # centroid k ties dup
    V = draw(_mat(draw(st.integers(1, 5)), s * d))
    V = np.concatenate([V, CT[:, -1, :].reshape(1, s * d)])  # a vector on the tie
    return V, CT


@given(_pq_case())
@_SETTINGS
def test_pq_encode_takes_lowest_index_on_ties(case):
    V, CT = case
    s, k, d = CT.shape
    X = V.reshape(len(V), s, d)
    ref = _ref_q_neardup((X[:, :, None, :] - CT[None, :, :, :]) ** 2 * _Q).sum(axis=3)
    assert np.array_equal(pq_distances(V, CT), ref)
    codes, dist = pq_encode(V, CT)
    assert codes.dtype == np.int32
    for i in range(len(V)):
        for j in range(s):
            first = int(np.flatnonzero(ref[i, j] == ref[i, j].min())[0])
            assert codes[i, j] == first < k - 1  # never the late duplicate
            assert dist[i, j] == ref[i, j].min()


@given(_pq_case(), st.data())
@_SETTINGS
def test_adc_is_the_sum_of_table_lookups(case, data):
    V, CT = case
    s, k, d = CT.shape
    q = V[0]
    table = adc_table(q, CT)
    ref = _ref_q_exact((q.reshape(s, d)[:, None, :] - CT) ** 2 * _Q).sum(axis=2)
    assert np.array_equal(table, ref)
    codes = np.asarray(
        data.draw(st.lists(st.lists(st.integers(0, k - 1), min_size=s, max_size=s), min_size=1)),
        dtype=np.int32,
    )
    want = [sum(int(table[j, c[j]]) for j in range(s)) for c in codes]
    assert adc_lookup(table, codes).tolist() == want
    # the encoded query's own ADC distance is its summed quantization error
    qcodes, qdist = pq_encode(q[None, :], CT)
    assert adc_lookup(table, qcodes)[0] == qdist.sum()
