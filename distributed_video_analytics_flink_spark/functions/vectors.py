"""Exact-integer vector kernel for the similarity operators: the quantized
dot products, norms, coarse-cell assignment, product-quantization encode
and asymmetric-distance (ADC) lookups that ``operators/similarity.py``
runs inside Arrow-batched pandas UDFs and as driver-side constants. Pure
numpy, no Spark, in the spirit of ``functions/motion.py``.

Cross-engine exactness: every elementwise product is quantized to an
integer at scale ``_Q`` with round-half-away-from-zero (Spark's and
DuckDB's ``round``) and the integers are summed, so a dot product is
independent of summation order and bit-identical to the SQL oracles'
``aggregate(zip_with(...))`` / ``list_sum(list_transform(...))`` forms.
The product expressions are part of that contract and keep their
association: ``(a * b) * _Q`` and ``(x - c) ** 2 * _Q``, never
``a * (b * _Q)``. Term magnitudes stay below 2^52, so ``floor(|t| + 0.5)``
is exact in doubles. Assignments take the first maximum (cosine) or the
first minimum (PQ distance), so ties break to the lowest index, as the
oracles' ``ORDER BY score, id ASC`` does.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

_Q = 1e12  # quantization scale for integer dot products


def _np_q(t: np.ndarray) -> np.ndarray:
    """Round-half-away-from-zero to int64, elementwise (``np.round``
    rounds halves to even and would split from the engines on exact
    ``k.5`` terms)."""
    return (np.floor(np.abs(t) + 0.5) * np.sign(t)).astype(np.int64)


def as_matrix(rows: Sequence) -> np.ndarray:
    """(n, d) float64 matrix of ``n`` equal-length float arrays (a pandas
    Series of Arrow-converted arrays, or collected Python lists). The
    float32 -> float64 widening is exact."""
    if len(rows) == 0:
        return np.empty((0, 0))
    return np.stack(list(rows)).astype(np.float64, copy=False)


def self_norm_q(V: np.ndarray) -> np.ndarray:
    """Quantized self-dot of each row (of a single vector for 1-D input)."""
    return _np_q(V * V * _Q).sum(axis=-1)


def sqrt_norm_q(V: np.ndarray) -> np.ndarray:
    """Square root of :func:`self_norm_q`: the cosine denominator factor."""
    return np.sqrt(self_norm_q(V).astype(np.float64))


def dots_q(V: np.ndarray, R: np.ndarray) -> np.ndarray:
    """(n, m) quantized dot matrix of V's rows against R's rows."""
    return _np_q(V[:, None, :] * R[None, :, :] * _Q).sum(axis=2)


def dot_q(V: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(n,) quantized dots of V's rows against one vector ``q``."""
    return _np_q(V * q[None, :] * _Q).sum(axis=1)


def cosine_q(V: np.ndarray, vn: np.ndarray, C: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """(n, m) cosines of V's rows against C's rows, given both sides'
    :func:`sqrt_norm_q`. A zero norm yields NaN/inf, never an error."""
    return dots_q(V, C) / (vn[:, None] * cn[None, :])


def coarse_assign(
    V: np.ndarray, vn: np.ndarray, C: np.ndarray, cn: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(cell, cosine): each row's nearest centroid by :func:`cosine_q`
    (first maximum, so a tie goes to the lowest centroid index) as int32,
    and the winning cosine."""
    cos = cosine_q(V, vn, C, cn)
    best = np.argmax(cos, axis=1)
    return best.astype(np.int32), cos[np.arange(len(best)), best]


def pq_distances(V: np.ndarray, CT: np.ndarray) -> np.ndarray:
    """(n, s, k) quantized squared distances of each row's ``s``
    sub-vectors to the ``k`` centroids of a (s, k, d) codebook."""
    X = V.reshape(len(V), CT.shape[0], CT.shape[2])
    return _np_q((X[:, :, None, :] - CT[None, :, :, :]) ** 2 * _Q).sum(axis=3)


def pq_encode(V: np.ndarray, CT: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes, dist): each row's ``s`` PQ codes (first minimum, so a tie
    goes to the lowest centroid index) as int32, and the (n, s) quantized
    distances to the chosen centroids."""
    D = pq_distances(V, CT)
    return D.argmin(axis=2).astype(np.int32), D.min(axis=2)


def adc_table(q: np.ndarray, CT: np.ndarray) -> np.ndarray:
    """(s, k) quantized distances of query ``q``'s sub-vectors to every
    codebook centroid: the asymmetric-distance lookup table."""
    return pq_distances(q[None, :], CT)[0]


def adc_lookup(table: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(n,) ADC distances: the sum over subspaces of ``table[s, code_s]``."""
    return table[np.arange(table.shape[0])[None, :], codes].sum(axis=1)
