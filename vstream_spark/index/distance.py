"""Numpy distance kernels — the numpy form of the one distance contract.

Every numpy distance in the package (index builds and searches, the
partitioned worker, the PQ refine, the similarity join) comes from this
module, in the convention of the Catalyst and DuckDB expressions in
``functions/distance.py``: 'l2' is **squared** L2, 'ip' is ``1 - <a,b>``
and 'cosine' is ``1 - cos(a,b)``, where a zero-norm vector has similarity
0. Smaller is closer for every metric.

Three forms:

* **matmul / einsum** (:func:`pairwise`, :func:`rowwise`,
  :func:`adc_tables`): BLAS-speed, in the inputs' dtype — float32 for
  graph and codebook builds, float64 for scans. Its rounding differs from
  the oracles' in the last bits (up to about 1e-13 at 128-d).
* **fold** (:func:`fold_dot`, :func:`fold`): a float64 left-to-right sum
  over the dimensions, the order of the JVM ``aggregate`` and DuckDB
  ``list_sum``, so its values equal the oracles' bit for bit.
* **re-score** (:func:`exact_topk`, :func:`rescore`): an exact top-k
  selects its candidates with the matmul form, within a margin that covers
  that form's rounding, and ranks them by the fold — one fold pass per
  batch over the k-plus-ties candidates of every query, not a fold scan.
"""

from __future__ import annotations

import numpy as np

# (Q, N) distance cells one exact_topk step holds at once
_CHUNK_CELLS = 1 << 22
_EPS = np.finfo(np.float64).eps


def _norms(x: np.ndarray) -> np.ndarray:
    """Row norms; one vector's norm is ``np.linalg.norm``'s dot."""
    return np.sqrt(x @ x) if x.ndim == 1 else np.sqrt((x * x).sum(axis=-1))


def _dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return a @ b if b.ndim == 1 else np.einsum("ij,ij->i", a, b)


# -- matmul / einsum form -----------------------------------------------------


def pairwise(a: np.ndarray, b: np.ndarray, metric: str) -> np.ndarray:
    """(len(a), len(b)) distance matrix by one matmul, in the inputs'
    dtype. l2 is the expanded ``|a|^2 - 2 a.b + |b|^2``, which can dip
    just below zero for near-equal rows."""
    if metric == "l2":
        return (
            (a * a).sum(axis=1)[:, None]
            - 2.0 * (a @ b.T)
            + (b * b).sum(axis=1)[None, :]
        )
    if metric == "ip":
        return 1.0 - a @ b.T
    if metric == "cosine":
        denom = _norms(a)[:, None] * _norms(b)[None, :]
        return 1.0 - np.where(denom > 0, (a @ b.T) / np.where(denom > 0, denom, 1.0), 0.0)
    raise ValueError(f"unknown metric {metric!r}")


def rowwise(a: np.ndarray, b: np.ndarray, metric: str, inplace: bool = False) -> np.ndarray:
    """Distance of each row of ``a`` to ``b``: one vector, or the row of
    ``b`` at the same position. ``inplace`` lets l2 overwrite ``a`` (for
    callers that pass reusable gather buffers)."""
    if metric == "l2":
        d = np.subtract(a, b, out=a if inplace else None)
        return np.einsum("ij,ij->i", d, d)
    if metric == "ip":
        return 1.0 - _dots(a, b)
    if metric == "cosine":
        denom = _norms(a) * _norms(b)
        return 1.0 - _dots(a, b) / np.where(denom > 0, denom, 1.0)
    raise ValueError(f"unknown metric {metric!r}")


def adc_tables(codebooks: np.ndarray, qs: np.ndarray, metric: str) -> np.ndarray:
    """(m, ksub) per-subspace terms of a product-quantized distance:
    ``codebooks`` is (m, ksub, dsub) and ``qs`` the (m, dsub) query split.
    l2 terms are squared distances (halved for cosine, whose codes live on
    the unit sphere, where ``1 - cos = |u - v|^2 / 2``); ip terms are
    ``-<c, q>``, and :func:`adc_distances` adds the 1."""
    if metric == "ip":
        return -np.einsum("mkd,md->mk", codebooks, qs)
    diff = codebooks - qs[:, None, :]
    tab = np.einsum("mkd,mkd->mk", diff, diff)
    return tab / 2.0 if metric == "cosine" else tab


def adc_distances(tables: np.ndarray, codes: np.ndarray, metric: str) -> np.ndarray:
    """Float64 distances of uint8 ``codes`` rows: the sum of one table
    entry per subspace, plus 1 for ip."""
    ds = tables[np.arange(tables.shape[0])[None, :], codes].sum(axis=1).astype(np.float64)
    return 1.0 + ds if metric == "ip" else ds


# -- float64 left-to-right fold -------------------------------------------------


def _dims_first(x) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return np.ascontiguousarray(np.moveaxis(x, -1, 0))


def _product(x, y, out):
    np.multiply(x, y, out=out)


def _sqdiff(x, y, out):
    np.subtract(x, y, out=out)
    out *= out


def _fold(a, b, term, ai=None, bi=None) -> np.ndarray:
    """Sum over the last axis of ``term(a_i, b_i)``, left to right in
    float64. ``a`` and ``b`` broadcast over their leading axes (``a[:,
    None]`` against ``b[None]`` gives every pair); with ``ai`` and ``bi``
    the sum pairs row ``ai[p]`` of ``a`` with row ``bi[p]`` of ``b``, one
    dimension at a time, without gathering the rows."""
    at, bt = _dims_first(a), _dims_first(b)
    if ai is None:
        shape = np.broadcast_shapes(at.shape[1:], bt.shape[1:])
        dims = zip(at, bt)
    else:
        shape = np.shape(ai)
        ga, gb = np.empty(shape), np.empty(shape)
        dims = ((np.take(x, ai, out=ga), np.take(y, bi, out=gb)) for x, y in zip(at, bt))
    acc = np.zeros(shape)
    # one reused temporary: a fresh array per dimension costs more than
    # the arithmetic when the pair block is large
    tmp = np.empty(shape)
    for x, y in dims:
        term(x, y, tmp)
        acc += tmp
    return acc


def fold_dot(a, b, ai=None, bi=None) -> np.ndarray:
    """``sum(a_i * b_i)``, folded as :func:`_fold` pairs the rows."""
    return _fold(a, b, _product, ai, bi)


def fold_cos_sim(a, b, ai=None, bi=None) -> np.ndarray:
    """Cosine similarity from folds: ``dot / (|a| * |b|)``, 0 where a norm
    is 0 (the SQL ``CASE WHEN denom <> 0``). Each row's norm is folded
    once, not once per pair."""
    sim = fold_dot(a, b, ai, bi)
    na, nb = np.sqrt(fold_dot(a, a)), np.sqrt(fold_dot(b, b))
    denom = na * nb if ai is None else na[ai] * nb[bi]
    # a zero denom means a zero vector, whose folded dot is exactly 0.0:
    # leaving it untouched is the ``ELSE 0.0``
    np.divide(sim, denom, out=sim, where=denom != 0.0)
    return sim


def fold(a, b, metric: str, ai=None, bi=None) -> np.ndarray:
    """Distances under the contract, bit for bit the oracles' values;
    rows pair as in :func:`_fold`."""
    if metric == "l2":
        return _fold(a, b, _sqdiff, ai, bi)
    if metric == "ip":
        return 1.0 - fold_dot(a, b, ai, bi)
    if metric == "cosine":
        return 1.0 - fold_cos_sim(a, b, ai, bi)
    raise ValueError(f"unknown metric {metric!r}")


# -- exact top-k: matmul candidates, fold ranking -----------------------------


def rescore(
    qmat: np.ndarray,
    vecs: np.ndarray,
    labels: np.ndarray,
    qi: np.ndarray,
    ri: np.ndarray,
    k: int,
    metric: str,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Per query of ``qmat``, the k best of its candidate rows by (fold
    distance, label): ``(qi, ri)`` pairs a query with a row of ``vecs``.
    One fold pass over all the pairs."""
    lbs, f = labels[ri], fold(qmat, vecs, metric, qi, ri)
    order = np.lexsort((lbs, f, qi))
    qi, lbs, f = qi[order], lbs[order], f[order]
    starts = np.searchsorted(qi, np.arange(len(qmat) + 1))
    keep = np.arange(len(qi)) - starts[qi] < k
    lbs, f = lbs[keep], f[keep]
    cuts = np.cumsum(np.minimum(np.diff(starts), k))[:-1]
    return list(zip(np.split(lbs, cuts), np.split(f, cuts)))


def _margin(qmat: np.ndarray, vecs: np.ndarray, metric: str) -> np.ndarray:
    """Per query, a bound on |matmul distance - fold distance| for every
    row, with room to spare: both forms err by at most about
    ``(dim + 2) * eps`` times the scale of the terms they sum."""
    qn, vn = _norms(qmat), float(_norms(vecs).max())
    if metric == "l2":
        scale = (qn + vn) ** 2
    elif metric == "ip":
        scale = qn * vn + 1.0
    else:
        scale = np.full(len(qmat), 2.0)
    return 8.0 * (qmat.shape[1] + 2) * _EPS * scale


def exact_topk(
    qmat: np.ndarray,
    vecs: np.ndarray,
    labels: np.ndarray,
    k: int,
    metric: str,
    eligible: np.ndarray | None = None,
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Exact top-k (labels, fold distances) per query of ``qmat`` over the
    rows of ``vecs`` set in ``eligible`` (a row mask, or one per query),
    ascending by (distance, label).

    The matmul form scores every eligible row; a row is a candidate when
    it lies within twice the :func:`_margin` of the k-th best matmul
    distance. Every row of the fold's top k, ties included, is a
    candidate: the k-th fold distance is at most the k-th matmul distance
    plus one margin, and any row at or below it is at most one more margin
    above that in the matmul form. Only the candidates are folded."""
    qmat = np.asarray(qmat, dtype=np.float64)
    out: list[tuple[np.ndarray, np.ndarray]] = []
    n = len(vecs)
    if n == 0 or k <= 0:
        empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
        return [empty] * len(qmat)
    take = min(k, n)
    step = max(1, _CHUNK_CELLS // n)
    for lo in range(0, len(qmat), step):
        q = qmat[lo : lo + step]
        d = pairwise(q, vecs, metric)
        ok = np.ones(d.shape, dtype=bool)
        if eligible is not None:
            ok &= eligible if eligible.ndim == 1 else eligible[lo : lo + step]
        d[~ok] = np.inf
        kth = np.partition(d, take - 1, axis=1)[:, take - 1]
        ok &= d <= (kth + 2.0 * _margin(q, vecs, metric))[:, None]
        qi, ri = np.nonzero(ok)
        out.extend(rescore(q, vecs, labels, qi, ri, k, metric))
    return out
