"""The index-kind contract (``index/base.py``): every kind in ``index.KINDS``
honours the same tombstones, freshness bound, allowlist, batch surface and
persistence. Numpy only, no Spark session."""

import pickle
from functools import lru_cache

import numpy as np
import pytest

from vstream_spark.config import VectorIndexConf
from vstream_spark.index import KINDS, build_from_conf

N, DIM = 500, 16

# per kind: its build conf, and the ef_search that makes a search exhaustive
# (flat: any, it is exact; hnsw: a beam over every node; ivf: nprobe =
# nlist). pq ranks by ADC distances at any ef, so it is never compared with
# the exact scan.
_KIND = {
    "flat": (VectorIndexConf(dim=DIM), 1),
    "hnsw": (VectorIndexConf(dim=DIM, index_kind="hnsw"), N),
    "ivf": (VectorIndexConf(dim=DIM, index_kind="ivf", nlist=8, nprobe=8), 8),
    "pq": (VectorIndexConf(dim=DIM, index_kind="pq", pq_m=4), None),
}


def _data():
    rng = np.random.RandomState(1)
    vecs = rng.rand(N, DIM).astype(np.float32)
    labels = np.arange(N, dtype=np.int64)
    return vecs, labels, labels.copy()  # ts of label i is i


def _exact_topk(vecs, labels, q, k, keep):
    d = ((vecs.astype(np.float64) - q) ** 2).sum(axis=1)
    order = np.lexsort((labels[keep], d[keep]))[:k]
    return labels[keep][order].tolist()


@pytest.fixture(params=sorted(KINDS))
def kind(request):
    return request.param


@lru_cache(maxsize=None)
def _blob(kind: str) -> bytes:
    """The kind's index over ``_data()``, built through the registry."""
    vecs, labels, ts = _data()
    rkind, built = build_from_conf(vecs, labels, _KIND[kind][0], ts=ts)
    assert rkind == kind and type(built) is KINDS[kind].cls
    return built.dumps()


def _fresh(kind):
    """A fresh copy of the kind's index: a load of its built bytes."""
    return KINDS[kind].cls.loads(_blob(kind))


@pytest.fixture
def idx(kind):
    return _fresh(kind)


def test_bad_metric(kind):
    with pytest.raises(ValueError):
        KINDS[kind].cls(8, metric="hamming")


def test_min_ts_and_tombstones(kind, idx):
    vecs, labels, ts = _data()
    ef = _KIND[kind][1]
    q = vecs[100].astype(np.float64)
    got, _ = idx.search(q, 10, ef, min_ts=250)
    assert len(got) and all(idx.get_ts(lb) >= 250 for lb in got)
    want = _exact_topk(vecs, labels, q, 10, ts >= 250)
    assert set(got.tolist()) & set(want)  # approximate but overlapping
    if ef is not None:
        assert got.tolist() == want
    assert idx.search(q, 5, ef)[0][0] == 100  # self is its own nearest
    assert idx.mark_delete(100)
    assert not idx.mark_delete(10_000)
    assert 100 not in idx.search(q, 5, ef)[0]


@pytest.mark.parametrize("tombstoned", [False, True])
def test_per_query_min_ts_array(kind, idx, tombstoned):
    """Per-query TTL: row j of a batch with a ``min_ts`` array equals a
    one-query batch with the scalar ``min_ts[j]`` (hnsw hoists its
    eligibility mask only in the scalar case), on a clean index and on one
    with tombstones, which no row returns."""
    vecs, _, _ = _data()
    dead = set(range(0, N, 5)) | {3, 450} if tombstoned else set()
    for lb in sorted(dead):
        idx.mark_delete(lb)
    qmat = vecs[[3, 100, 200, 450]].astype(np.float64)
    mts = np.array([0, 150, 400, 490])
    outs = idx.search_batch(qmat, 5, 16, min_ts=mts)
    assert len(outs) == 4
    for j, (lbs, ds) in enumerate(outs):
        assert all(idx.get_ts(lb) >= mts[j] for lb in lbs)
        assert not dead & set(lbs.tolist())
        ((one_l, one_d),) = idx.search_batch(qmat[j : j + 1], 5, 16, min_ts=int(mts[j]))
        assert lbs.tolist() == one_l.tolist() and ds.tolist() == one_d.tolist()
    assert all(len(lbs) for lbs, _ in outs[:3])


def test_save_load_roundtrip(kind, idx):
    """The pickled dict is the kind's declared fields, in order; a load
    searches exactly as the original, tombstones included, and dumps the
    same bytes again."""
    vecs, _, _ = _data()
    idx.mark_delete(5)
    blob = idx.dumps()
    d = pickle.loads(blob)
    cls = KINDS[kind].cls
    assert list(d) == list(cls._CTOR + cls._STATE)
    assert len(d["labels"]) == idx.n and d["labels"].dtype == np.int64
    clone = cls.loads(blob)
    assert clone.dumps() == blob
    for j in (5, 7, 42):
        q = vecs[j].astype(np.float64)
        a, da = idx.search(q, 10)
        b, db = clone.search(q, 10)
        assert a.tolist() == b.tolist() and da.tolist() == db.tolist()
        assert 5 not in b


def test_allow_labels_filter(kind, idx):
    """In-index attribute filter: only allowed, live labels return; the
    batch surface builds the slot mask once, from any label collection;
    at an exhaustive ef the result is the exact top-k over that set."""
    vecs, labels, ts = _data()
    ef = _KIND[kind][1]
    allow = labels[labels % 3 == 0]
    idx.mark_delete(30)  # allowed but tombstoned
    qmat = np.random.RandomState(11).rand(8, DIM)
    res = idx.search_batch(qmat, 10, ef, allow_labels=allow)
    as_set = idx.search_batch(qmat, 10, ef, allow_labels=set(allow.tolist()))
    mask = idx.allow_mask(allow)
    keep = (labels % 3 == 0) & (labels != 30)
    for q, (lbs, ds), (sl, sd) in zip(qmat, res, as_set):
        assert len(lbs) == 10 and set(lbs.tolist()) <= set(labels[keep].tolist())
        assert list(ds) == sorted(ds)
        assert lbs.tolist() == sl.tolist() and ds.tolist() == sd.tolist()
        one, _ = idx.search(q, 10, ef, allow=mask)
        assert one.tolist() == lbs.tolist()
        if ef is not None:
            assert lbs.tolist() == _exact_topk(vecs, labels, q, 10, keep)


def test_ts_lookup_matches_get_ts(idx):
    """``ts_of`` (the searcher's neighbor_ts) equals the per-label
    ``get_ts`` loop it replaces; an absent label raises as get_ts does."""
    lbs = np.array([7, 499, 0, 7, 250], dtype=np.int64)
    assert idx.ts_of(lbs).tolist() == [idx.get_ts(int(lb)) for lb in lbs]
    assert idx.ts_of(lbs).dtype == np.int64
    assert idx.slots([3, 10_000]).tolist() == [idx._by_label[3], -1]
    with pytest.raises(KeyError):
        idx.ts_of(np.array([1, 10_000]))
    assert idx.ts_of(np.empty(0, dtype=np.int64)).tolist() == []


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_flat_is_exact_under_every_filter(metric):
    """The flat kind is the exact scan: with tombstones, a per-query
    ``min_ts`` and an allowlist at once, every query of a batch gets the
    brute-force top-k over the rows that pass all three, in (distance,
    label) order, and the same labels and distances as a search of that
    query alone. Distances are the fold's, bit for bit."""
    from vstream_spark.index.distance import fold

    vecs, labels, ts = _data()
    _, idx = build_from_conf(vecs, labels, VectorIndexConf(dim=DIM, metric=metric), ts=ts)
    dead = np.arange(0, N, 7)
    idx.deleted[idx.slots(labels[dead])] = True
    allow = labels[labels % 2 == 0]
    qmat = np.random.RandomState(5).rand(70, DIM)
    mts = np.random.RandomState(6).randint(0, N, len(qmat))
    res = idx.search_batch(qmat, 10, None, mts, allow_labels=allow)
    mask = idx.allow_mask(allow)
    for q, mt, (lbs, ds) in zip(qmat, mts, res):
        keep = (labels % 2 == 0) & (labels % 7 != 0) & (ts >= mt)
        d = fold(q, vecs[keep].astype(np.float64), metric)
        order = np.lexsort((labels[keep], d))[:10]
        assert lbs.tolist() == labels[keep][order].tolist()
        assert ds.tolist() == d[order].tolist()
        one_l, one_d = idx.search(q, 10, None, int(mt), allow=mask)
        assert one_l.tolist() == lbs.tolist() and one_d.tolist() == ds.tolist()
