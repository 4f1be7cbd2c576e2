"""Numpy HNSW index: recall, tombstones, freshness filter, persistence."""

import numpy as np
import pytest

from vstream_spark.index.hnsw import HnswIndex, build_index


def _data(n=400, dim=16, seed=3):
    rng = np.random.RandomState(seed)
    vecs = rng.rand(n, dim).astype(np.float32)
    labels = np.arange(n, dtype=np.int64)
    return vecs, labels


def _exact_topk(vecs, labels, q, k, min_ts=None, ts=None, deleted=()):
    d = ((vecs.astype(np.float64) - q) ** 2).sum(axis=1)
    ok = np.ones(len(vecs), dtype=bool)
    if min_ts is not None:
        ok &= ts >= min_ts
    for lb in deleted:
        ok[labels == lb] = False
    order = np.lexsort((labels[ok], d[ok]))[:k]
    return labels[ok][order]


def test_recall_at_10_high():
    vecs, labels = _data()
    idx = build_index(vecs, labels, M=16, ef_construction=128)
    rng = np.random.RandomState(9)
    hits = total = 0
    for q in rng.rand(50, vecs.shape[1]):
        got, dists = idx.search(q, 10, ef_search=64)
        want = _exact_topk(vecs, labels, q, 10)
        hits += len(set(got) & set(want))
        total += 10
        assert list(dists) == sorted(dists)
    assert hits / total >= 0.95


def test_deterministic_build_and_search():
    vecs, labels = _data(200)
    a = build_index(vecs, labels)
    b = build_index(vecs, labels)
    q = vecs[17].astype(np.float64)
    assert a.search(q, 5)[0].tolist() == b.search(q, 5)[0].tolist()
    # self is its own nearest neighbor, exact distance 0
    lbs, ds = a.search(q, 1, ef_search=32)
    assert lbs[0] == 17 and ds[0] == 0.0


def test_mark_delete_tombstone():
    """Re-adding a tombstoned label brings it back (upsert, W2 then W1 on
    the same label); the tombstone itself is in test_index_contract."""
    vecs, labels = _data(100)
    idx = build_index(vecs, labels)
    q = vecs[5].astype(np.float64)
    assert idx.mark_delete(5)
    assert 5 not in idx.search(q, 10)[0]
    idx.add_point(vecs[5], 5, ts=7)
    assert idx.search(q, 1)[0][0] == 5


def test_upsert_relinks_the_new_vector():
    """An upsert retires the label's old node and links the new vector as
    a fresh node, so the graph keeps its recall: upserting half of a
    600-row graph with fresh vectors keeps recall@10 at ef 16 at least
    0.9 (overwriting the old node's vector in place, and keeping links
    chosen for the old one, read 0.756 here), through a dumps/loads round
    trip too. The label answers with its new time and is held once."""
    rng = np.random.RandomState(11)
    vecs, labels = _data(600, seed=11)
    idx = build_index(vecs, labels)
    up = labels[::2]
    cur = vecs.copy()
    cur[up] = rng.rand(len(up), vecs.shape[1]).astype(np.float32)
    for lb in up:
        idx.add_point(cur[lb], int(lb), ts=1)
    qs = rng.rand(100, vecs.shape[1])
    for ix in (idx, HnswIndex.loads(idx.dumps())):
        hits = 0
        for q in qs:
            got = ix.search(q, 10, ef_search=16)[0]
            assert len(set(got.tolist())) == len(got)
            hits += len(set(got) & set(_exact_topk(cur, labels, q, 10)))
        assert hits / (10 * len(qs)) >= 0.9
    assert idx.get_ts(0) == 1 and idx.deleted[: idx.n].sum() == len(up)


def test_bulk_build_recall_and_determinism():
    """build_index_bulk (the flush-time bulk constructor) must match or beat
    incremental insertion on recall and be deterministic."""
    from vstream_spark.index.hnsw import build_index_bulk

    vecs, labels = _data(500)
    ts = np.arange(500, dtype=np.int64)
    a = build_index_bulk(vecs, labels, ts=ts, M=16, ef_construction=128)
    b = build_index_bulk(vecs, labels, ts=ts, M=16, ef_construction=128)
    assert a.entry == b.entry and a.max_level == b.max_level
    assert all(a.links[i] == b.links[i] for i in range(a.n))
    rng = np.random.RandomState(4)
    hits = 0
    for q in rng.rand(40, vecs.shape[1]):
        got, ds = a.search(q, 10, ef_search=64)
        want = _exact_topk(vecs, labels, q, 10)
        hits += len(set(got) & set(want))
        assert list(ds) == sorted(ds)
    assert hits / 400 >= 0.95
    # freshness + tombstones work on the bulk-built graph too
    got, _ = a.search(vecs[10].astype(np.float64), 10, ef_search=200, min_ts=250)
    assert all(a.ts[a._by_label[int(lb)]] >= 250 for lb in got)
    assert a.mark_delete(int(got[0]))
    assert got[0] not in a.search(vecs[10].astype(np.float64), 10, ef_search=200, min_ts=250)[0]


def test_bulk_auto_threshold_and_parity():
    """build_index auto-selects bulk for shards >= threshold; both paths
    expose the same search API and serialize identically."""
    from vstream_spark.index.hnsw import _BULK_THRESHOLD, build_index

    vecs, labels = _data(64)
    small = build_index(vecs, labels)           # below threshold -> incremental
    forced = build_index(vecs, labels, bulk=True)
    q = vecs[5].astype(np.float64)
    assert small.search(q, 1)[0][0] == 5
    assert forced.search(q, 1)[0][0] == 5
    clone = HnswIndex.loads(forced.dumps())
    assert clone.search(q, 5)[0].tolist() == forced.search(q, 5)[0].tolist()
    assert _BULK_THRESHOLD >= 512


def test_bulk_empty_and_tiny():
    from vstream_spark.index.hnsw import build_index_bulk

    e = build_index_bulk(np.zeros((0, 8)), np.empty(0, dtype=np.int64))
    lbs, ds = e.search(np.zeros(8), 5)
    assert len(lbs) == 0
    one = build_index_bulk(np.ones((1, 8)), np.array([7], dtype=np.int64))
    lbs, _ = one.search(np.ones(8), 3)
    assert lbs.tolist() == [7]


def test_ip_and_cosine_metrics():
    vecs, labels = _data(120)
    for metric in ("ip", "cosine"):
        idx = build_index(vecs, labels, metric=metric)
        got, ds = idx.search(vecs[7].astype(np.float64), 5, ef_search=64)
        assert len(got) == 5
        assert list(ds) == sorted(ds)


def test_worker_integration_recall(spark):
    """knn_partitioned_worker with index_conf builds per-partition HNSW."""
    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.operators.partitioned import knn_partitioned_worker

    rng = np.random.RandomState(11)
    rows = [(int(i), rng.rand(16).astype(float).tolist()) for i in range(300)]
    vectors = spark.createDataFrame(rows, "id long, emb array<float>")
    queries = vectors.filter("id % 30 = 0").selectExpr("id as qid", "emb")
    conf = PartitionerConf(kind="simple", num_partitions=4)
    iconf = VectorIndexConf(dim=16, m=16, ef_construction=128, ef_search=64)
    got = knn_partitioned_worker(
        vectors, queries, conf, k=5, metric="l2", index_conf=iconf
    )
    want = knn_exact(vectors, queries, k=5, metric="l2")
    g = {(r.qid, r.neighbor_id) for r in got.collect()}
    w = {(r.qid, r.neighbor_id) for r in want.collect()}
    assert len(g & w) / len(w) >= 0.9


def test_reference_config_recall_harness(spark):
    """BASELINE.md recall constants: M=16, efConstruction=128, efSearch=16,
    k=10 — the reference's own accuracy-harness configuration. Exact mode is
    the ground truth; ANN recall must be usable at efS=16 and improve
    monotonically with efSearch (the reference's tuning axis)."""
    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.functions.metrics import mean_recall
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.operators.partitioned import knn_partitioned_worker
    from vstream_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    vectors = emb.selectExpr("vec_id as id", "embedding as emb")
    queries = emb.filter("vec_id % 25 = 0").selectExpr("vec_id as qid", "embedding as emb")
    gt = knn_exact(vectors, queries, k=10, metric="l2")
    conf = PartitionerConf(kind="simple", num_partitions=4)
    recalls = {}
    for efs in (16, 64):
        ann = knn_partitioned_worker(
            vectors, queries, conf, k=10, metric="l2",
            index_conf=VectorIndexConf(dim=64, m=16, ef_construction=128, ef_search=efs),
        )
        recalls[efs] = mean_recall(ann, gt, 10)
    assert recalls[16] >= 0.7
    assert recalls[64] >= recalls[16]
    assert recalls[64] >= 0.9


def test_bulk_approx_graph_recall_floor():
    """Above _APPROX_THRESHOLD the bulk builder uses clustered-candidate
    approximate kNN links (r5). Gate its recall on clustered data (the
    testdata embeddings' shape): recall@10 at ef_search=128 must clear 0.85
    on 12k vectors in 10 gaussian blobs — well above the threshold so the
    approx path is the one exercised."""
    import numpy as np

    from vstream_spark.index.hnsw import _APPROX_THRESHOLD, build_index_bulk

    rng = np.random.RandomState(5)
    n, dim = 12_000, 32
    assert n >= _APPROX_THRESHOLD
    centers = rng.rand(10, dim) * 4
    vecs = (centers[rng.randint(0, 10, n)] + rng.randn(n, dim) * 0.15).astype(
        np.float32
    )
    labels = np.arange(n)
    idx = build_index_bulk(vecs, labels, metric="l2")
    q = vecs[rng.choice(n, 100, replace=False)] + rng.randn(100, dim).astype(
        np.float32
    ) * 0.05
    v64 = vecs.astype(np.float64)
    hits = 0
    for j in range(100):
        d = ((v64 - q[j]) ** 2).sum(axis=1)
        truth = set(np.lexsort((labels, d))[:10].tolist())
        got, _ = idx.search(q[j], 10, ef_search=128)
        hits += len(truth & set(got.tolist()))
    recall = hits / 1000
    assert recall >= 0.85, recall


def test_bulk_approx_graph_recall_floor_uniform():
    """The hardest case for the clustered candidate generator: 64-dim
    UNIFORM random (no cluster structure, so every cell boundary cuts true
    neighbor pairs). r5/r6 shipped 0.78 recall@10 at ef_search=128 here
    with the 2-cell spill; the spill=4/cell_size=320 retune (r7) clears the
    0.85 gate (measured 0.887 at 64k, 0.92+ at this n=12k; the exact-graph
    ceiling at 64k is 0.911). Gate at the test's n to keep runtime sane —
    the SCALE.md 64k numbers are the full-size record."""
    import numpy as np

    from vstream_spark.index.hnsw import _APPROX_THRESHOLD, build_index_bulk

    rng = np.random.RandomState(5)
    n, dim = 12_000, 64
    assert n >= _APPROX_THRESHOLD
    vecs = rng.rand(n, dim).astype(np.float32)
    labels = np.arange(n)
    idx = build_index_bulk(vecs, labels, metric="l2")
    q = rng.rand(100, dim).astype(np.float32)
    v64 = vecs.astype(np.float64)
    hits = 0
    for j in range(100):
        d = ((v64 - q[j]) ** 2).sum(axis=1)
        truth = set(np.lexsort((labels, d))[:10].tolist())
        got, _ = idx.search(q[j], 10, ef_search=128)
        hits += len(truth & set(got.tolist()))
    recall = hits / 1000
    assert recall >= 0.85, recall


def test_allow_composes_with_tombstones_and_freshness():
    vecs, labels = _data(n=200)
    ts = np.arange(200, dtype=np.int64)
    idx = build_index(vecs, labels, ts=ts, M=16, ef_construction=128)
    idx.mark_delete(30)  # allowed label, tombstoned
    allow = labels[labels % 2 == 0]
    q = vecs[0].astype(np.float64)
    lbs, _ = idx.search(q, 20, ef_search=200, min_ts=20,
                        allow=idx.allow_mask(allow))
    assert 30 not in lbs  # deleted never returns, even when allowed
    assert all(lb % 2 == 0 and lb >= 20 for lb in lbs)
    # NOTE: the right expectation is filter-DURING-walk (top-k over the
    # eligible subset), not global-top-k-then-filter — the whole point of
    # in-traversal eligibility is that those two differ.
    got_exact = _exact_topk(
        vecs[allow], allow, q, 20, min_ts=20, ts=ts[allow], deleted=(30,)
    )
    assert list(lbs) == list(got_exact)


def test_allow_no_eligible_returns_empty():
    vecs, labels = _data(n=100)
    idx = build_index(vecs, labels)
    res = idx.search_batch(vecs[:3], 5, ef_search=100,
                           allow_labels=np.array([10_000], dtype=np.int64))
    assert all(len(lbs) == 0 for lbs, _ in res)


def test_allow_none_path_unchanged():
    """allow_labels=None must route through the legacy unfiltered search
    byte-identically (the hot path the hash-matched gates stand on)."""
    vecs, labels = _data(n=250)
    idx = build_index(vecs, labels)
    rng = np.random.RandomState(13)
    for q in rng.rand(10, vecs.shape[1]):
        a_l, a_d = idx.search(q, 10, ef_search=64)
        b = idx.search_batch(q[None, :], 10, ef_search=64, allow_labels=None)
        assert list(a_l) == list(b[0][0]) and list(a_d) == list(b[0][1])


def test_ts_in_traversal_fills_k_where_post_hoc_underfills():
    """FilterSeqTs parity (hnswlib.h:135-146): with a hard freshness bound
    leaving few eligible nodes, a filter applied AFTER the walk drops stale
    nodes that occupied ef result slots — the result can under-fill k.
    ``search(min_ts=)`` filters in traversal: stale nodes route but the
    heap fills with eligible ones only, returning the exact fresh top-k."""
    vecs, labels = _data(n=400)
    ts = np.arange(400, dtype=np.int64)
    idx = build_index(vecs, labels, ts=ts, M=16, ef_construction=128)
    min_ts = 380  # only 20 eligible nodes
    k, ef = 10, 16
    rng = np.random.RandomState(21)
    underfilled = 0
    for q in rng.rand(20, vecs.shape[1]):
        # the post-hoc filter: the unbounded walk's ef results, then the bound
        walk, _ = idx.search(q, ef, ef_search=ef)
        legacy = [lb for lb in walk if ts[lb] >= min_ts][:k]
        strict, sd = idx.search(q, k, ef_search=ef, min_ts=min_ts)
        underfilled += len(legacy) < k
        assert len(strict) == k
        assert all(lb >= min_ts for lb in strict)
        assert list(sd) == sorted(sd)
        # exact against brute force over the fresh subset (walk covers the
        # whole component once eligible count < ef)
        want = _exact_topk(vecs, labels, q, k, min_ts=min_ts, ts=ts)
        assert list(strict) == list(want)
    assert underfilled > 0  # the gap is real on this data/ef, not vacuous


def test_ts_in_traversal_noop_without_bound():
    """A bound no node falls below leaves the walk's result as it is."""
    vecs, labels = _data(n=200)
    idx = build_index(vecs, labels, ts=np.arange(200, dtype=np.int64))
    rng = np.random.RandomState(2)
    for q in rng.rand(5, vecs.shape[1]):
        a = idx.search(q, 10, ef_search=64)
        b = idx.search(q, 10, ef_search=64, min_ts=0)
        assert list(a[0]) == list(b[0]) and list(a[1]) == list(b[1])


def test_allow_smaller_than_k_returns_all_eligible():
    """Eligible population below k: the beam clamps to n_eligible (the
    heap can hold every eligible node), returns exactly those — no
    exhaustive-walk blowup, no phantom fill."""
    vecs, labels = _data(n=300)
    idx = build_index(vecs, labels)
    allow = np.array([5, 50, 500_000], dtype=np.int64)  # 2 real, 1 unknown
    res = idx.search_batch(vecs[:4], 10, ef_search=64, allow_labels=allow)
    for lbs, _ in res:
        assert sorted(lbs) == [5, 50]
