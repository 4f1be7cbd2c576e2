"""IvfIndex: the coarse-quantized flat segment artifact (C3/C4 scale path).

The freshness, tombstone, allowlist and persistence contract it shares
with the other kinds is tested in test_index_contract.py.
"""

import numpy as np
import pytest

from vstream_spark.index.ivf import build_ivf


def _data(n, dim=16, seed=1):
    rng = np.random.RandomState(seed)
    return rng.rand(n, dim).astype(np.float32), np.arange(n, dtype=np.int64)


def _exact_topk(vecs, labels, q, k, metric="l2"):
    if metric == "l2":
        d = ((vecs.astype(np.float64) - q) ** 2).sum(axis=1)
    elif metric == "ip":
        d = -(vecs.astype(np.float64) @ q)
    else:
        vn = np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)
        d = 1.0 - (vecs.astype(np.float64) @ q) / np.where(vn > 0, vn, 1.0)
    return labels[np.lexsort((labels, d))[:k]].tolist()


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_recall_vs_exact(metric):
    vecs, labels = _data(2000)
    idx = build_ivf(vecs, labels, metric=metric, nprobe=8)
    rng = np.random.RandomState(7)
    hits = 0
    for q in rng.rand(40, 16).astype(np.float64):
        got, ds = idx.search(q, 10)
        want = _exact_topk(vecs, labels, q, 10, metric)
        hits += len(set(got.tolist()) & set(want))
        assert list(ds) == sorted(ds)
    # nprobe=8 of ~44 cells: well over half the true neighbors
    assert hits / 400 >= 0.6


def test_full_probe_is_exact():
    vecs, labels = _data(1000)
    idx = build_ivf(vecs, labels, nlist=32)
    rng = np.random.RandomState(3)
    for q in rng.rand(20, 16).astype(np.float64):
        got, _ = idx.search(q, 10, ef_search=32)
        assert got.tolist() == _exact_topk(vecs, labels, q, 10)


def test_deterministic_artifact_bytes():
    vecs, labels = _data(800)
    ts = np.arange(800, dtype=np.int64)
    a = build_ivf(vecs, labels, ts=ts, nlist=16)
    b = build_ivf(vecs, labels, ts=ts, nlist=16)
    assert a.dumps() == b.dumps()
    # input order must not matter (label-sorted internally)
    perm = np.random.RandomState(0).permutation(800)
    c = build_ivf(vecs[perm], labels[perm], ts=ts[perm], nlist=16)
    assert a.dumps() == c.dumps()


def test_empty_and_tiny():
    e = build_ivf(np.zeros((0, 8)), np.empty(0, dtype=np.int64))
    lbs, _ = e.search(np.zeros(8), 5)
    assert len(lbs) == 0
    one = build_ivf(np.ones((1, 8)), np.array([9], dtype=np.int64))
    lbs, _ = one.search(np.ones(8), 3)
    assert lbs.tolist() == [9]


def test_auto_nlist_scales():
    vecs, labels = _data(900)
    idx = build_ivf(vecs, labels)
    assert idx.nlist == 30  # sqrt(900)
    assert len(idx.offsets) == idx.nlist + 1
    assert idx.offsets[-1] == 900


def test_ivf_boundary_ties_break_by_label():
    """Rows tied at the kth distance must resolve by label ascending —
    argpartition alone picks an arbitrary subset of the ties (r11: the
    bench lane's replayed store has 20 identical copies per vector and
    measured recall 0.49 against the exact scan purely from this)."""
    import numpy as np

    from vstream_spark.index.ivf import build_ivf

    rng = np.random.RandomState(5)
    base = rng.rand(40, 16)
    # 10 copies of each of 40 vectors, labels interleaved so the smallest
    # labels of a tie group are NOT adjacent in storage order
    vecs = np.tile(base, (10, 1))
    labels = np.arange(400)
    idx = build_ivf(vecs.astype(np.float32), labels, nlist=8, nprobe=8)
    q = base[7]
    got, ds = idx.search(q, 5)
    # every copy of base[7] is at the same (float32-rounded) distance;
    # top-5 = the 5 smallest labels among the copies (7, 47, 87, ...)
    assert ds.max() < 1e-12 and len(set(ds.tolist())) == 1
    assert got.tolist() == [7, 47, 87, 127, 167]
