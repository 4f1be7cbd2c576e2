"""PqIndex: product-quantized ADC segment artifact (memory-bound path)."""

import numpy as np
import pytest

from vstream_spark.index.pq import PqIndex, build_pq


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
def test_adc_recall_vs_exact(metric):
    # 4 subspaces x 256 codes on uniform 16-dim data: ~0.67 recall@10 is the
    # honest ADC-only operating point (PQ trades recall for 32x less memory;
    # raise m/nbits — or re-rank against the parquet floats — for more)
    vecs, labels = _data(3000)
    idx = build_pq(vecs, labels, metric=metric, m=4)
    rng = np.random.RandomState(5)
    hits = 0
    for q in rng.rand(40, 16).astype(np.float64):
        got, ds = idx.search(q, 10)
        hits += len(set(got.tolist()) & set(_exact_topk(vecs, labels, q, 10, metric)))
        assert list(ds) == sorted(ds)
    assert hits / 400 >= 0.6


def test_compression_ratio():
    vecs, labels = _data(5000, dim=128)
    idx = build_pq(vecs, labels, m=16)
    raw = vecs.astype(np.float32).nbytes
    assert idx.codes.nbytes == 5000 * 16  # 16 B/vector vs 512 B raw
    assert idx.memory_bytes() < raw / 4  # codes + codebooks well under raw


def test_deterministic_and_order_invariant():
    vecs, labels = _data(1000)
    ts = np.arange(1000, dtype=np.int64)
    a = build_pq(vecs, labels, ts=ts, m=4)
    b = build_pq(vecs, labels, ts=ts, m=4)
    assert a.dumps() == b.dumps()
    perm = np.random.RandomState(0).permutation(1000)
    c = build_pq(vecs[perm], labels[perm], ts=ts[perm], m=4)
    assert a.dumps() == c.dumps()


def test_tiny_and_invalid():
    one = build_pq(np.ones((1, 8)), np.array([3], dtype=np.int64), m=4)
    lbs, _ = one.search(np.ones(8), 2)
    assert lbs.tolist() == [3]
    empty = build_pq(np.zeros((0, 8)), np.empty(0, dtype=np.int64), m=4)
    assert len(empty.search(np.zeros(8), 3)[0]) == 0
    with pytest.raises(ValueError):
        PqIndex(10, m=4)  # 10 % 4 != 0


def test_segment_store_pq_artifact(spark, tmp_path):
    from vstream_spark.config import VectorIndexConf
    from vstream_spark.index.pq import PqIndex as PQ
    from vstream_spark.storage.search import _INDEX_CACHE, SegmentSearcher, _segment_index
    from vstream_spark.storage.segments import SegmentStore

    rng = np.random.RandomState(3)
    rows = [
        (int(i), rng.rand(8).astype(np.float32).tolist(), i * 10, 10**12, "I")
        for i in range(200)
    ]
    st = SegmentStore(spark, str(tmp_path / "segpq"))
    st.append_segment(
        spark.createDataFrame(
            rows, "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"
        )
    )
    (seg,) = st.build_segment_indexes(
        st.segments()[:1], VectorIndexConf(dim=8, index_kind="pq", pq_m=4)
    )
    import os

    assert os.path.basename(seg["index_file"]) == "_pq-l2.idx"
    _INDEX_CACHE.clear()
    conf = VectorIndexConf(dim=8, index_kind="pq", pq_m=4, termination_lower_bound=1.0)
    idx = _segment_index(seg, conf)
    assert isinstance(idx, PQ) and idx.n == 200
    q = spark.createDataFrame([(0, rows[7][1])], "qid long, emb array<float>")
    got = SegmentSearcher(st, conf).search(q, k=5)
    assert got["neighbor_id"].iloc[0] == 7  # 256 codes/subspace: self found
