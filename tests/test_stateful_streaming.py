"""Stateful streaming search (applyInPandasWithState): state persists across
micro-batches; inserts/deletes/queries interleave like the reference stream."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vstream_spark.config import VectorIndexConf
from vstream_spark.streaming.stateful import stateful_vector_search

SCHEMA = (
    "partition_id int, op string, id bigint, emb array<float>, "
    "event_time bigint, ttl bigint"
)


def _run_batches(spark, tmp_path, batches, conf, k=3):
    """Feed micro-batches as one file each (maxFilesPerTrigger=1) and drain."""
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i:03d}")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stateful_vector_search(stream, conf, k=k)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("select * from stateful_out").toPandas()


def test_state_survives_batches_and_deletes_apply(spark, tmp_path):
    rng = np.random.RandomState(4)
    vecs = [rng.rand(8).astype(np.float32).tolist() for _ in range(30)]
    # batch 0: insert ids 0..19 into partition 0
    b0 = [(0, "I", i, vecs[i], i * 10, 0) for i in range(20)]
    # batch 1: delete id 5, insert 20..29, query near vec 5 and vec 25
    b1 = (
        [(0, "D", 5, None, 500, 0)]
        + [(0, "I", i, vecs[i], i * 10 + 300, 0) for i in range(20, 30)]
        + [
            (0, "Q", 1001, vecs[5], 10_000, 10_000_000),
            (0, "Q", 1002, vecs[25], 10_000, 10_000_000),
        ]
    )
    res = _run_batches(
        spark, tmp_path, [b0, b1], VectorIndexConf(dim=8, ef_search=128), k=3
    )
    by_q = {qid: grp.sort_values("distance") for qid, grp in res.groupby("qid")}
    assert set(by_q) == {1001, 1002}
    # id 5 was deleted in the same batch before the query -> absent;
    # its nearest neighbor is some OTHER id (state from batch 0 still there)
    assert 5 not in set(by_q[1001]["neighbor_id"])
    assert len(by_q[1001]) == 3
    # the batch-1 insert id 25 answers its own query at distance 0
    assert by_q[1002].iloc[0]["neighbor_id"] == 25
    assert by_q[1002].iloc[0]["distance"] == 0.0


def test_ttl_freshness_filter_in_stream(spark, tmp_path):
    rng = np.random.RandomState(7)
    vecs = [rng.rand(8).astype(np.float32).tolist() for _ in range(10)]
    b0 = [(0, "I", i, vecs[i], i * 100, 0) for i in range(10)]
    # query with a tight TTL window: only inserts with event_time >= 900-250
    b1 = [(0, "Q", 2001, vecs[1], 900, 250)]
    res = _run_batches(
        spark, tmp_path, [b0, b1], VectorIndexConf(dim=8, ef_search=128), k=10
    )
    ids = set(res["neighbor_id"])
    assert ids and all(i * 100 >= 650 for i in ids)


def test_exact_stateful_matches_batch_knn(spark, tmp_path):
    """Stateful search over the flat kind == batch knn_exact with
    deletes+TTL: state carries across micro-batches; a delete in a later
    batch wins LWW; the result merged with topk is bitwise equal."""
    import pandas as pd

    from vstream_spark.operators.knn import knn_exact, topk

    rng = np.random.RandomState(11)
    vecs = [rng.rand(8).astype(np.float32).tolist() for _ in range(40)]
    num_parts = 2
    b0 = [(i % num_parts, "I", i, vecs[i], i * 10, 0) for i in range(0, 40, 2)]
    b1 = [(i % num_parts, "I", i, vecs[i], i * 10, 0) for i in range(1, 40, 2)] + [
        (3 % num_parts, "D", 3, None, 5000, 0),
        (8 % num_parts, "D", 8, None, 5000, 0),
    ]
    # queries fan to all partitions; TTL window excludes event_time < 100
    b2 = [
        (p, "Q", 900 + j, vecs[j], 10_000, 9_900)
        for j in (0, 7, 15)
        for p in range(num_parts)
    ]
    src = tmp_path / "exsrc"
    src.mkdir()
    for i, rows in enumerate([b0, b1, b2]):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i:03d}")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stateful_vector_search(
        stream, VectorIndexConf(dim=8, index_kind="flat"), k=5
    )
    q = (
        out.writeStream.format("memory")
        .queryName("exact_stateful_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        topk(spark.table("exact_stateful_out"), 5, dedup=False)
        .select("qid", "neighbor_id", "distance", "rank")
        .toPandas()
        .sort_values(["qid", "rank"], ignore_index=True)
    )
    vectors = spark.createDataFrame(
        [(i, vecs[i], i * 10, 0, "I") for i in range(40)]
        + [(3, vecs[3], 5000, 0, "D"), (8, vecs[8], 5000, 0, "D")],
        "id bigint, emb array<float>, event_time bigint, ttl bigint, op string",
    )
    queries = spark.createDataFrame(
        [(900 + j, vecs[j], 10_000, 9_900) for j in (0, 7, 15)],
        "qid bigint, emb array<float>, event_time bigint, ttl bigint",
    )
    exp = (
        knn_exact(vectors, queries, k=5, metric="l2", honor_ttl=True, honor_deletes=True)
        .toPandas()
        .sort_values(["qid", "rank"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"rank": "int64"}), exp.astype({"rank": "int64"})
    )
    # deleted ids and TTL-excluded ids (event_time < 100 -> ids 0..9) absent
    assert {3, 8}.isdisjoint(set(got["neighbor_id"]))
    assert got["neighbor_id"].min() >= 10


def test_partitions_isolated(spark, tmp_path):
    rng = np.random.RandomState(9)
    v = [rng.rand(4).astype(np.float32).tolist() for _ in range(6)]
    b0 = [(0, "I", 0, v[0], 0, 0), (0, "I", 1, v[1], 0, 0),
          (1, "I", 2, v[2], 0, 0), (1, "I", 3, v[3], 0, 0)]
    b1 = [(0, "Q", 3001, v[2], 100, 10**9)]  # asks partition 0 for p1's vector
    res = _run_batches(
        spark, tmp_path, [b0, b1], VectorIndexConf(dim=4, ef_search=64), k=4
    )
    # only partition 0's ids can answer
    assert set(res["neighbor_id"]) <= {0, 1}
    assert set(res["partition_id"]) == {0}


def test_continuous_trigger_matches_availablenow(spark, tmp_path):
    """processingTime-trigger smoke (r10 VERDICT stretch #8): every other
    streaming test drains with availableNow; this pins that the stateful
    search path doesn't silently depend on replay semantics — the same
    interleaved insert/query batches produce the same results under a
    ticking continuous trigger, with state carried across ticks."""
    import time

    rng = np.random.RandomState(9)
    vecs = [rng.rand(8).astype(np.float32).tolist() for _ in range(12)]
    qv = vecs[3]
    batches = [
        # batch 0: inserts only
        [(0, "I", i, vecs[i], 100 + i, 10**9) for i in range(8)],
        # batch 1: more inserts + a query (sees batch-0 state too)
        [(0, "I", i, vecs[i], 200 + i, 10**9) for i in range(8, 12)]
        + [(0, "Q", 1000, qv, 10**6, 10**9)],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i:03d}")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    conf = VectorIndexConf(dim=8, ef_search=64)
    out = stateful_vector_search(stream, conf, k=3)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_pt")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_pt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        rows = []
        while time.time() < deadline:
            rows = spark.sql("select * from stateful_pt").collect()
            if len(rows) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = sorted((r.distance, r.neighbor_id) for r in rows if r.qid == 1000)
    # the query's own vector (id 3, inserted in batch 0) must be the nearest
    # hit at distance 0: state crossed the tick boundary
    assert len(got) == 3
    assert got[0] == (0.0, 3)


class _State:
    """The slice of pyspark's GroupState the stateful worker uses."""

    def __init__(self, blob=None):
        self.blob = blob

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, value):
        self.blob = value[0]


def _one_batch(fn, rows, blob=None):
    import pandas as pd

    state = _State(blob)
    pdf = pd.DataFrame(rows, columns=["id", "emb", "event_time", "ttl", "op"])
    out = list(fn((0,), iter([pdf]), state))
    return (pd.concat(out) if out else pd.DataFrame(columns=["qid"])), state.blob


def replay_topk(markers, queries, k):
    """The stateful worker's semantics by brute force, l2. ``markers`` are
    (id, vec or None, event_time, is_insert, batch) in arrival order and
    ``queries`` (qid, vec, event_time, ttl or None, batch). A query sees
    the markers of its batch and of the batches before; per id the newest
    marker wins (an insert wins a tie, and the later of two inserts at one
    time); the live versions inside [event_time - ttl, event_time] are
    ranked by (distance, id). Returns {qid: [(id, distance)]}."""
    out = {}
    for qid, q, qet, ttl, bi in queries:
        last = {}
        seen = [m for m in markers if m[4] <= bi]
        for mid, vec, et, ins, _ in sorted(seen, key=lambda m: (m[2], m[3])):
            last[mid] = (vec, et, ins)
        lo = -np.inf if ttl is None else qet - ttl
        q64 = np.asarray(q, dtype=np.float32).astype(np.float64)
        exp = sorted(
            (float(((q64 - np.asarray(vec, np.float32).astype(np.float64)) ** 2).sum()), mid)
            for mid, (vec, et, ins) in last.items()
            if ins and lo <= et <= qet
        )[:k]
        out[qid] = [(mid, d) for d, mid in exp]
    return out


def _hits(frame):
    return {
        int(qid): list(zip(g["neighbor_id"], g["distance"]))
        for qid, g in frame.groupby("qid")
    }


def test_auto_worker_matches_exact_in_one_batch():
    """Under 'auto' a small partition is an exact flat index: in ONE batch
    with an upsert (id 7 re-inserted with a new vector), a delete (id 20,
    after its insert) and a TTL bound (event_time >= 150), every query
    gets the brute-force replay's neighbors in its order. The state is
    flat."""
    from vstream_spark.index import FlatIndex, loads
    from vstream_spark.streaming.stateful import stateful_search_fn

    rng = np.random.RandomState(9)
    vecs = rng.rand(41, 8).astype(np.float32)
    rows = [(i, vecs[i].tolist(), i * 10, None, "I") for i in range(40)]
    rows += [(7, vecs[40].tolist(), 500, None, "I"), (20, None, 600, None, "D")]
    qs = [vecs[7], vecs[40], vecs[20], vecs[2]] + list(rng.rand(4, 8).astype(np.float32))
    rows += [(1000 + j, q.tolist(), 1000, 850, "Q") for j, q in enumerate(qs)]
    got, blob = _one_batch(stateful_search_fn(VectorIndexConf(dim=8), k=5), rows)
    want = replay_topk(
        [(i, v, t, op == "I", 0) for i, v, t, _, op in rows if op != "Q"],
        [(i, v, t, ttl, 0) for i, v, t, ttl, op in rows if op == "Q"],
        k=5,
    )
    assert isinstance(loads(blob), FlatIndex)
    assert len(got) == 5 * len(qs)
    for qid, hits in _hits(got).items():
        assert [m for m, _ in hits] == [m for m, _ in want[qid]]
        np.testing.assert_allclose(
            [d for _, d in hits], [d for _, d in want[qid]], rtol=1e-9, atol=1e-12
        )
    hits = set(got["neighbor_id"])
    assert 20 not in hits and all(i == 7 or i >= 15 for i in hits)
    assert got[got["qid"] == 1001]["neighbor_id"].iloc[0] == 7  # the upsert


_V, _W = [1.0, 0.0, 0.0, 0.0], [9.0, 0.0, 0.0, 0.0]
# (batches of (id, emb, event_time, ttl, op) rows, expected (id, distance)
# hits of query 100 at [1, 0, 0, 0], k=3)
_LWW_CASES = {
    "reinsert_after_delete_in_one_batch": (
        [[(1, _V, 1, None, "I"), (1, None, 5, None, "D"), (1, _V, 10, None, "I"),
          (100, _V, 20, 100, "Q")]],
        [(1, 0.0)],
    ),
    "stale_delete_in_a_later_batch": (
        [[(1, _V, 10, None, "I")], [(1, None, 5, None, "D"), (100, _V, 20, 100, "Q")]],
        [(1, 0.0)],
    ),
    "insert_after_the_query_time": (
        [[(1, _V, 10, None, "I"), (100, _V, 5, 100, "Q")]],
        [],
    ),
    "stale_upsert_in_a_later_batch": (
        [[(1, _V, 10, None, "I")], [(1, _W, 5, None, "I"), (100, _V, 20, 100, "Q")]],
        [(1, 0.0)],
    ),
}


@pytest.mark.parametrize("kind", ["flat", "hnsw"])
@pytest.mark.parametrize("case", sorted(_LWW_CASES))
def test_worker_resolves_markers_by_event_time(kind, case):
    """Inserts and deletes are last-writer-wins by event time, the insert
    wins ties, a stale delete or upsert from a later batch loses, and a
    query sees nothing newer than its own event time — for both kinds the
    worker holds."""
    from vstream_spark.streaming.stateful import stateful_search_fn

    batches, want = _LWW_CASES[case]
    fn = stateful_search_fn(VectorIndexConf(dim=4, index_kind=kind), k=3)
    blob, got = None, []
    for rows in batches:
        out, blob = _one_batch(fn, rows, blob)
        got += _hits(out).get(100, [])
    assert got == want


def test_worker_remembers_a_delete_before_its_insert():
    """A delete of an id the partition does not hold yet is kept: an
    insert that arrives later with an older event time stays deleted,
    one with a newer time lives."""
    from vstream_spark.streaming.stateful import stateful_search_fn

    fn = stateful_search_fn(VectorIndexConf(dim=4), k=3)
    _, blob = _one_batch(fn, [(1, None, 50, None, "D"), (2, None, 50, None, "D")])
    out, _ = _one_batch(
        fn,
        [(1, _V, 40, None, "I"), (2, _W, 60, None, "I"), (100, _V, 70, None, "Q")],
        blob,
    )
    assert _hits(out)[100] == [(2, 64.0)]


def test_auto_worker_stays_flat_and_keeps_an_hnsw_blob():
    """Under 'auto' a partition stays flat past ``auto_ivf_threshold`` (a
    bound measured on one-off builds, not on per-trigger inserts), with
    its tombstones; an HNSW state blob, as an 'hnsw' worker writes it,
    stays an HNSW under 'auto' (checkpoints written before the flat kind
    keep working)."""
    from vstream_spark.index import FlatIndex, HnswIndex, loads
    from vstream_spark.streaming.stateful import stateful_search_fn

    rng = np.random.RandomState(3)
    vecs = rng.rand(60, 8).astype(np.float32)
    fn = stateful_search_fn(VectorIndexConf(dim=8, auto_ivf_threshold=30), k=3)
    first = [(i, vecs[i].tolist(), i, None, "I") for i in range(40)]
    first += [(5, None, 100, None, "D"), (99, vecs[5].tolist(), 200, None, "Q")]
    out, blob = _one_batch(fn, first)
    flat = loads(blob)
    assert isinstance(flat, FlatIndex) and flat.n == 40
    assert flat.deleted[flat.slots([5])].all()
    assert 5 not in set(out["neighbor_id"]) and len(out) == 3
    hnsw_fn = stateful_search_fn(VectorIndexConf(dim=8, index_kind="hnsw"), k=3)
    _, blob = _one_batch(hnsw_fn, first[:40])
    assert isinstance(loads(blob), HnswIndex)
    third = [(i, vecs[i].tolist(), i, None, "I") for i in range(40, 60)]
    _, blob = _one_batch(fn, third, blob)
    assert isinstance(loads(blob), HnswIndex) and loads(blob).n == 60


def test_worker_rejects_an_exact_worker_checkpoint():
    """The marker-tuple state an older exact stateful worker checkpointed
    is not an index blob: the worker raises a ValueError that names the
    keys it expects, not numpy's ambiguous-truth-value error."""
    import pickle

    from vstream_spark.index import loads
    from vstream_spark.streaming.stateful import stateful_search_fn

    old = pickle.dumps((
        np.arange(3, dtype=np.int64), np.zeros((3, 4), np.float32),
        np.arange(3, dtype=np.int64), np.ones(3, dtype=bool),
    ))
    with pytest.raises(ValueError, match=r"not an index blob: a tuple; .*'labels'"):
        loads(old)
    fn = stateful_search_fn(VectorIndexConf(dim=4), k=3)
    with pytest.raises(ValueError, match="not an index blob"):
        _one_batch(fn, [(100, _V, 1, None, "Q")], old)


def test_worker_names_the_dimension_a_stream_breaks():
    """A stream whose vectors are not ``conf.dim`` wide raises a
    ValueError that names both widths, for inserts and for queries, not
    numpy's broadcast error."""
    from vstream_spark.streaming.stateful import stateful_search_fn

    fn = stateful_search_fn(VectorIndexConf(), k=3)
    v8 = [0.5] * 8
    with pytest.raises(ValueError, match=r"vectors are 8-d, but VectorIndexConf.dim is 128"):
        _one_batch(fn, [(1, v8, 1, None, "I"), (100, v8, 2, None, "Q")])
    with pytest.raises(ValueError, match=r"vectors are 8-d, but VectorIndexConf.dim is 128"):
        _one_batch(fn, [(100, v8, 2, None, "Q")])


@pytest.mark.parametrize("kind", ["ivf", "pq"])
def test_worker_rejects_a_kind_it_cannot_hold(kind):
    """The worker holds a flat index or an HNSW; naming ivf or pq raises
    when the function is built, on the driver, before any batch runs."""
    from vstream_spark.streaming.stateful import stateful_search_fn

    with pytest.raises(ValueError, match=r"'auto', 'flat' or 'hnsw', got '" + kind):
        stateful_search_fn(VectorIndexConf(dim=4, index_kind=kind), k=3)


def test_worker_rejects_a_blob_of_another_metric():
    """State checkpointed under l2 does not answer a cosine conf in l2: it
    raises a ValueError that names both metrics. Under its own metric the
    same blob loads and answers."""
    from vstream_spark.streaming.stateful import stateful_search_fn

    rows = [(1, _V, 1, None, "I"), (2, [10.0, 1.0, 0.0, 0.0], 1, None, "I")]
    _, blob = _one_batch(stateful_search_fn(VectorIndexConf(dim=4), k=2), rows)
    query = [(100, [0.0, 1.0, 0.0, 0.0], 2, None, "Q")]
    cosine = stateful_search_fn(VectorIndexConf(dim=4, metric="cosine"), k=2)
    with pytest.raises(ValueError, match=r"4-d 'l2' index, but the conf is 4-d 'cosine'"):
        _one_batch(cosine, query, blob)
    out, _ = _one_batch(stateful_search_fn(VectorIndexConf(dim=4), k=2), query, blob)
    assert _hits(out)[100] == [(1, 2.0), (2, 100.0)]
    fresh, _ = _one_batch(cosine, rows + query)
    assert [m for m, _ in _hits(fresh)[100]] == [2, 1]
