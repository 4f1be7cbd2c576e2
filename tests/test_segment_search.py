"""SegmentSearcher: C4 per-segment HNSW, C6 pruning, C7 temperature,
C8 early termination, O7 executor index cache."""

import numpy as np
import pandas as pd
import pytest

from vstream_spark.config import VectorIndexConf
from vstream_spark.storage.search import _INDEX_CACHE, SegmentSearcher
from vstream_spark.storage.segments import SegmentStore

SCHEMA = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"


def _vec_rows(lo, hi, dim=8, seed=0):
    rng = np.random.RandomState(seed + lo)
    return [
        (i, rng.rand(dim).astype(np.float32).tolist(), i * 100, 10**12, "I")
        for i in range(lo, hi)
    ]


@pytest.fixture()
def store(spark, tmp_path):
    st = SegmentStore(spark, str(tmp_path / "segments"))
    for lo in (0, 100, 200):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 100), SCHEMA))
    return st


def _queries(spark, store, n=5):
    df = store.read().filter("id % 50 = 0").selectExpr("id as qid", "emb").limit(n)
    return df


def test_search_matches_exact_across_segments(spark, store):
    from vstream_spark.operators.knn import knn_exact

    conf = VectorIndexConf(dim=8, ef_search=256, termination_lower_bound=1.0)
    searcher = SegmentSearcher(store, conf)
    q = _queries(spark, store, n=6)
    got = searcher.search(q, k=5, ef_search=256)
    vectors = store.read().select("id", "emb")
    want = knn_exact(vectors, q, k=5, metric="l2").toPandas()
    g = set(zip(got["qid"], got["neighbor_id"]))
    w = set(zip(want["qid"], want["neighbor_id"]))
    assert len(g & w) / len(w) >= 0.9
    # rank is 1..k ascending by distance per qid
    for _, grp in got.groupby("qid"):
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert list(grp["distance"]) == sorted(grp["distance"])


def test_ttl_pruning_filters_results(spark, store):
    conf = VectorIndexConf(dim=8)
    searcher = SegmentSearcher(store, conf)
    q = _queries(spark, store)
    got = searcher.search(q, k=10, min_event_time=15_000)
    # freshness bound 15000 = ids >= 150 only
    assert (got["neighbor_id"] >= 150).all()


def test_temperature_updates_and_ordering(spark, store):
    searcher = SegmentSearcher(store, VectorIndexConf(dim=8))
    q = _queries(spark, store)
    searcher.search(q, k=3)
    assert len(searcher.temperature) == 3
    segs = searcher._order_segments(store.segments())
    temps = [searcher.temperature.get(s["id"], 0.0) for s in segs]
    assert temps == sorted(temps, reverse=True)


def test_early_termination_skips_cold_segments(spark, store):
    # lower_bound 0 + tiny factor-threshold: after the first segment has k
    # results per query, termination triggers if kth dist <= factor * EMA.
    conf = VectorIndexConf(
        dim=8,
        index_kind="hnsw",  # indexed segments: one per job at spj=1
        termination_lower_bound=0.0,
        termination_factor=1e9,  # always under threshold once EMA is seeded
        termination_threshold=1.0,
        segments_per_job=1,  # pin the SST-at-a-time termination granularity
    )
    searcher = SegmentSearcher(store, conf)
    q = _queries(spark, store, n=3)
    searcher.search(q, k=2)
    # only the first visited segment got a temperature update
    assert len(searcher.temperature) == 1
    # EMA threshold was updated from the batch
    assert searcher.termination_threshold != 1.0


def test_chunked_search_matches_segment_at_a_time(spark, tmp_path):
    """r11 VERDICT #1: segments_per_job chunking is a pure job-granularity
    change — on a 16-segment store, K=1 (the reference's SST-at-a-time
    shape), K=4 (default) and K=32 (one job for everything, the
    knn_partitioned_worker degenerate) return IDENTICAL rows with
    termination disabled, and the chunked searcher still visits every
    segment (temperature recorded for all 16)."""
    st = SegmentStore(spark, str(tmp_path / "seg16"))
    for lo in range(0, 800, 50):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 50), SCHEMA))
    assert len(st.segments()) == 16
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 800)) if r[0] % 97 == 0],
        "qid long, emb array<float>",
    )
    outs = {}
    for spj in (1, 4, 32):
        conf = VectorIndexConf(
            dim=8, ef_search=256, termination_lower_bound=1.0,
            segments_per_job=spj,
        )
        searcher = SegmentSearcher(st, conf)
        out = searcher.search(q, k=7)
        outs[spj] = list(
            zip(out["qid"], out["neighbor_id"], out["rank"],
                out["distance"].round(6))
        )
        assert len(searcher.temperature) == 16  # every segment visited
    assert outs[1] == outs[4] == outs[32]


def test_chunked_termination_checks_per_chunk(spark, tmp_path):
    """With an always-terminate threshold, a chunked searcher stops after
    ONE chunk (segments_per_job segments visited), not one segment and not
    the whole store — the C8 check runs at chunk granularity."""
    st = SegmentStore(spark, str(tmp_path / "segterm"))
    for lo in range(0, 400, 50):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 50), SCHEMA))
    conf = VectorIndexConf(
        dim=8,
        index_kind="hnsw",  # flat segments would all share one chunk
        termination_lower_bound=0.0,
        termination_factor=1e9,
        termination_threshold=1.0,
        segments_per_job=3,
    )
    searcher = SegmentSearcher(st, conf)
    q = spark.createDataFrame(
        [(0, _vec_rows(0, 1)[0][1])], "qid long, emb array<float>"
    )
    searcher.search(q, k=2)
    assert len(searcher.temperature) == 3  # exactly one chunk of 3


def test_index_cache_is_lru(spark, store):
    """r11 What's-wrong #3: eviction is LRU, not FIFO — a hot entry re-hit
    under eviction pressure survives; the least-recently-used goes."""
    import vstream_spark.storage.search as search_mod
    from vstream_spark.storage.search import _INDEX_CACHE, _segment_index

    segs = store.segments()
    conf = VectorIndexConf(dim=8)
    _INDEX_CACHE.clear()
    old_max = search_mod._INDEX_CACHE_MAX
    search_mod._INDEX_CACHE_MAX = 2
    try:
        a = _segment_index(segs[0], conf)  # cache: [0]
        _segment_index(segs[1], conf)  # cache: [0, 1]
        assert _segment_index(segs[0], conf) is a  # hit refreshes 0
        _segment_index(segs[2], conf)  # evicts LRU -> 1, keeps hot 0
        keys = set(_INDEX_CACHE)
        assert f"{segs[0]['id']}:flat:l2" in keys  # hot entry retained
        assert f"{segs[1]['id']}:flat:l2" not in keys  # LRU evicted
        assert _segment_index(segs[0], conf) is a  # still the object
    finally:
        search_mod._INDEX_CACHE_MAX = old_max
        _INDEX_CACHE.clear()


def test_index_cache_reused(spark, store):
    # the cache lives in each Python worker process; exercise the build-or-
    # fetch path directly (same code the mapInPandas closure runs)
    from vstream_spark.storage.search import _segment_index

    seg = store.segments()[0]
    conf = VectorIndexConf(dim=8)
    a = _segment_index(seg, conf)
    b = _segment_index(seg, conf)
    assert a is b  # second call is a cache hit
    assert f"{seg['id']}:flat:l2" in _INDEX_CACHE
    c = _segment_index(seg, VectorIndexConf(dim=8, metric="cosine"))
    assert c is not a  # metric participates in the key
    d = _segment_index(seg, VectorIndexConf(dim=8, index_kind="ivf"))
    assert d is not a  # index kind participates in the key too


def test_segment_index_sidecar_and_dump(spark, store):
    import os

    from vstream_spark.storage.search import _INDEX_CACHE, _segment_index

    seg = store.segments()[1]
    conf = VectorIndexConf(dim=8, index_kind="hnsw")
    (seg2,) = store.build_segment_indexes([seg], conf)
    assert os.path.exists(seg2["index_file"])
    assert os.path.basename(seg2["index_file"]).startswith("_hnsw")
    # manifest records the artifact
    assert store.segments()[1].get("index_file") == seg2["index_file"]
    # parquet readers still see only the data files
    assert store.read().count() == 300
    # loader prefers the sidecar (fresh cache key -> load path)
    _INDEX_CACHE.clear()
    idx = _segment_index(seg2, conf)
    assert idx.n == seg2["count"]
    # M4 dump lists every id with its segment
    d = store.dump()
    assert d.count() == 300
    assert d.select("segment_id").distinct().count() == 3


def test_ivf_segment_artifact_and_search(spark, store):
    """C3/C4 with kind='ivf': the cheap-build artifact serves the same
    search contract (results match exact at full probe depth)."""
    import os

    from vstream_spark.index.ivf import IvfIndex
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.storage.search import _INDEX_CACHE, _segment_index

    seg = store.segments()[0]
    conf = VectorIndexConf(dim=8, index_kind="ivf", nlist=4)
    (seg2,) = store.build_segment_indexes([seg], conf)
    assert os.path.basename(seg2["index_file"]) == "_ivf-l2.idx"
    _INDEX_CACHE.clear()
    idx = _segment_index(seg, conf)
    assert isinstance(idx, IvfIndex) and idx.n == seg["count"]

    # end-to-end SegmentSearcher with IVF artifacts; ef_search acts as
    # nprobe, so probing every cell reproduces the exact result
    searcher = SegmentSearcher(
        store, VectorIndexConf(dim=8, index_kind="ivf", nlist=4, termination_lower_bound=1.0)
    )
    q = _queries(spark, store, n=6)
    got = searcher.search(q, k=5, ef_search=4)
    vectors = store.read().select("id", "emb")
    want = knn_exact(vectors, q, k=5, metric="l2").toPandas()
    assert set(zip(got["qid"], got["neighbor_id"])) == set(
        zip(want["qid"], want["neighbor_id"])
    )


def test_auto_kind_selects_by_segment_size(spark, store):
    import glob
    import os

    from vstream_spark.index.flat import FlatIndex
    from vstream_spark.index.ivf import IvfIndex
    from vstream_spark.storage.search import _INDEX_CACHE, _segment_index

    seg = store.segments()[2]
    # 100-row segment: auto resolves to ivf above the threshold, to flat
    # (no artifact, searched from its parquet) at or below it
    low = VectorIndexConf(dim=8, index_kind="auto", auto_ivf_threshold=10)
    high = VectorIndexConf(dim=8, index_kind="auto", auto_ivf_threshold=1000)
    (s_ivf,) = store.build_segment_indexes([seg], low)
    assert os.path.basename(s_ivf["index_file"]) == "_ivf-l2.idx"
    (s_flat,) = store.build_segment_indexes([seg], high)
    assert s_flat == seg
    assert [os.path.basename(p) for p in glob.glob(seg["path"] + "/_*.idx")] == ["_ivf-l2.idx"]
    _INDEX_CACHE.clear()
    assert isinstance(_segment_index(seg, low), IvfIndex)
    assert isinstance(_segment_index(seg, high), FlatIndex)


def test_ivf_deletes_and_freshness_through_store(spark, tmp_path):
    """W2 tombstones + min_ts work identically on the IVF path."""
    st = SegmentStore(spark, str(tmp_path / "segivf"))
    rows = _vec_rows(0, 60) + [(7, None, 7 * 100 + 5, 10**12, "D")]
    st.append_segment(spark.createDataFrame(rows, SCHEMA))
    st.build_segment_indexes(st.segments()[:1], VectorIndexConf(dim=8, index_kind="ivf", nlist=2))
    searcher = SegmentSearcher(
        st, VectorIndexConf(dim=8, index_kind="ivf", nlist=2, termination_lower_bound=1.0)
    )
    q = spark.createDataFrame(
        [(0, _vec_rows(7, 8)[0][1])], "qid long, emb array<float>"
    )
    got = searcher.search(q, k=60, ef_search=2)
    assert 7 not in set(got["neighbor_id"])
    fresh = searcher.search(q, k=60, min_event_time=3000, ef_search=2)
    assert (fresh["neighbor_id"] >= 30).all()


def test_deletes_honored_across_segments(spark, tmp_path):
    """W2/C9 through the segment path: intra-segment shadowing, cross-segment
    tombstones, and newest-version-wins for re-inserted ids."""
    st = SegmentStore(spark, str(tmp_path / "segdel"))
    # segment 1: inserts 0..49 at t=i*100; id 7 deleted IN the same segment
    # (marker strictly later than the insert at t=700)
    rows1 = _vec_rows(0, 50) + [(7, None, 7 * 100 + 5, 10**12, "D")]
    st.append_segment(spark.createDataFrame(rows1, SCHEMA))
    # segment 2: delete id 3 (cross-segment), re-insert id 5 with a new vector
    import numpy as np

    newvec = np.zeros(8, dtype=np.float32).tolist()
    rows2 = [(3, None, 900, 10**12, "D"), (5, newvec, 901, 10**12, "I")]
    st.append_segment(spark.createDataFrame(rows2, SCHEMA))

    searcher = SegmentSearcher(
        st, VectorIndexConf(dim=8, ef_search=256, termination_lower_bound=1.0)
    )
    # query near old id-3/5/7 vectors: none of 3, 7 may appear
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 50)) if r[0] in (3, 5, 7)],
        "qid long, emb array<float>",
    )
    got = searcher.search(q, k=50)
    ids = set(got["neighbor_id"])
    assert 3 not in ids and 7 not in ids
    # the re-inserted id 5 appears with its NEW vector: nearest to zeros
    qz = spark.createDataFrame([(99, newvec)], "qid long, emb array<float>")
    gz = searcher.search(qz, k=1)
    assert list(gz["neighbor_id"]) == [5]
    assert gz["distance"].iloc[0] == 0.0


def test_declared_hnsw_query_uses_persisted_sidecars(spark):
    """The registry's knn_hnsw_ann must go through the C3/C4 path: segments
    carry graph sidecar artifacts built at flush, and repeat invocations
    reuse the same store (load, never rebuild)."""
    import os

    from vstream_spark.queries import _STORES, REGISTRY

    sf = "/root/testdata/sf0.001"
    key = ("knn-hnsw-store-", sf)
    fn, _ = REGISTRY["knn_hnsw_ann"]
    assert fn(spark, sf).count() > 0
    st = _STORES[key][0]
    segs = st.segments()
    assert len(segs) == 2
    for s in segs:
        assert s.get("index_file") and os.path.exists(s["index_file"])
    # second invocation: same store object -> no re-ingest, no re-build
    fn(spark, sf)
    assert _STORES[key][0] is st


def test_parallel_multi_segment_index_build(spark, store):
    """build_segment_indexes (r11): N segments' sidecars build in ONE Spark
    job (one task per segment) and are byte-identical in effect to the
    sequential per-segment path — searchers load them and match the exact
    scan, the manifest records every artifact, and the single-segment
    wrapper still delegates here."""
    import os

    from vstream_spark.operators.knn import knn_exact

    segs = store.segments()
    assert len(segs) == 3 and not any(s.get("index_file") for s in segs)
    out = store.build_segment_indexes(segs, VectorIndexConf(dim=8, index_kind="hnsw"))
    assert len(out) == 3
    for s in out:
        assert os.path.exists(s["index_file"]), s
        assert os.path.basename(s["index_file"]) == "_hnsw-l2.idx"
    # manifest recorded all three
    assert all(s.get("index_file") for s in store.segments())

    _INDEX_CACHE.clear()
    q = _queries(spark, store)
    got = SegmentSearcher(
        store, VectorIndexConf(dim=8, index_kind="hnsw", ef_search=64)
    ).search(q, k=5)
    want = (
        knn_exact(store.read().filter("op = 'I'"), q, k=5, metric="l2")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    got = got.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert got["neighbor_id"].tolist() == want["neighbor_id"].tolist()


def test_searcher_state_persists_across_restarts(spark, store):
    """C7/C8 state persistence (r12 VERDICT observation #3): the reference
    keeps per-table temperature in version metadata so heat ordering and
    the termination EMA survive restarts (util/metrics.h:77-109). The
    Spark analog is a JSON sidecar beside the manifest: save_state /
    load_state round-trip both, and a cold store (no file) stays at the
    defaults."""
    conf = VectorIndexConf(dim=8, ef_search=64)
    s1 = SegmentSearcher(store, conf)
    assert s1.load_state() is False  # no state yet: cold defaults kept
    q = _queries(spark, store)
    s1.search(q, k=5)
    s1.search(q, k=5)  # second search: EMA seeded, temperatures decayed
    assert s1.termination_threshold > 0.0 and s1.temperature
    s1.save_state()

    s2 = SegmentSearcher(store, conf)
    assert s2.load_state() is True
    assert s2.termination_threshold == s1.termination_threshold
    assert s2.temperature == s1.temperature
    # restored heat drives the same C7 visit order
    assert [s["id"] for s in s2._order_segments(store.segments())] == [
        s["id"] for s in s1._order_segments(store.segments())
    ]


def test_searcher_state_drops_stale_segments(spark, store):
    conf = VectorIndexConf(dim=8)
    s1 = SegmentSearcher(store, conf)
    s1.search(_queries(spark, store), k=3)
    s1.temperature["gone-segment"] = 9.9  # simulate a compacted-away id
    s1.save_state()
    s2 = SegmentSearcher(store, conf)
    s2.load_state()
    assert "gone-segment" not in s2.temperature
    live = {s["id"] for s in store.segments()}
    assert set(s2.temperature) <= live


def test_chunking_leaves_identical_rows_and_state(spark, tmp_path):
    """Chunk size is pure job granularity: on a 16-segment store,
    segments_per_job=3 (six chunks) returns the rows and leaves the
    temperatures of segments_per_job=16 (one chunk) at full depth, and
    under aggressive termination each run stops after its first chunk
    with temperature recorded for exactly the visited segments."""
    st = SegmentStore(spark, str(tmp_path / "segchunk"))
    for lo in range(0, 800, 50):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 50), SCHEMA))
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 800)) if r[0] % 97 == 0],
        "qid long, emb array<float>",
    )
    outs, temps = {}, {}
    for spj in (3, 16):
        conf = VectorIndexConf(
            dim=8, index_kind="hnsw", ef_search=256, termination_lower_bound=1.0,
            segments_per_job=spj,
        )
        searcher = SegmentSearcher(st, conf)
        out = searcher.search(q, k=7)
        outs[spj] = list(
            zip(out["qid"], out["neighbor_id"], out["rank"],
                out["distance"].round(6))
        )
        temps[spj] = searcher.temperature
        assert len(searcher.temperature) == 16
    assert outs[3] == outs[16]
    assert temps[3] == temps[16]

    # aggressive termination: each run stops after its first chunk
    for spj in (3, 16):
        conf = VectorIndexConf(
            dim=8, index_kind="hnsw", termination_lower_bound=0.0,
            termination_factor=1e9, termination_threshold=1.0, segments_per_job=spj,
        )
        searcher = SegmentSearcher(st, conf)
        searcher.search(q, k=2)
        assert len(searcher.temperature) == spj
        assert set(searcher.temperature) == set(searcher.last_searched_ids)


def _count_jobs(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the number of
    Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_chunk(spark, tmp_path):
    """Each chunk of segments_per_job indexed segments costs exactly one
    Spark job: on an 8-segment hnsw store with termination off, eight
    chunks run four more jobs than four chunks, and a one-chunk search is
    one job (its query frame needs no checkpoint, and the delete markers
    are read without Spark)."""
    st = SegmentStore(spark, str(tmp_path / "segjobs"))
    for lo in range(0, 400, 50):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 50), SCHEMA))
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 400)) if r[0] % 37 == 0],
        "qid long, emb array<float>",
    )
    jobs, rows = {}, {}
    for spj in (1, 2, 8):
        conf = VectorIndexConf(
            dim=8, index_kind="hnsw", ef_search=64, termination_lower_bound=1.0,
            segments_per_job=spj,
        )
        out, jobs[spj] = _count_jobs(
            spark, f"segjobs-spj{spj}",
            lambda: SegmentSearcher(st, conf).search(q, k=5),
        )
        rows[spj] = out.values.tolist()
    assert rows[1] == rows[2] == rows[8]
    assert jobs[1] - jobs[2] == 4
    assert jobs[8] == 1


def test_tombstones_across_chunks(spark, tmp_path):
    """Delete markers apply across chunk boundaries (segments_per_job=1):
    a marker in a later chunk's segment removes a hit found in the first
    chunk; a marker in a segment early termination never visits still
    removes it (markers cover every pruned segment), and the segment that
    held the shadowed id still fills k; a marker at the SAME event_time as
    its insert keeps the insert."""
    st = SegmentStore(spark, str(tmp_path / "segtomb"))
    for lo in (0, 50):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 50), SCHEMA))
    inserts = [s["id"] for s in st.segments()]
    far = (np.ones(8, dtype=np.float32) * 50).tolist()
    # marker segment: id 3 deleted after its insert (t=300), id 5 deleted
    # at exactly its insert time (t=500), plus far-away inserts
    st.append_segment(spark.createDataFrame(
        [(3, None, 1000, 10**12, "D"), (5, None, 500, 10**12, "D")]
        + [(i, far, 2000 + i, 10**12, "I") for i in range(200, 210)],
        SCHEMA,
    ))
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 50)) if r[0] in (3, 5)],
        "qid long, emb array<float>",
    )

    def run(**term):
        searcher = SegmentSearcher(
            st,
            VectorIndexConf(
                dim=8, index_kind="hnsw", ef_search=256, segments_per_job=1, **term
            ),
        )
        # visit the two insert segments first, the marker segment last
        searcher.temperature = {inserts[0]: 2.0, inserts[1]: 1.0}
        got = searcher.search(q, k=10)
        return got, set(got["neighbor_id"]), searcher.last_searched_ids

    # every chunk visited: the last chunk's marker drops the first's hit
    _, ids, visited = run(termination_lower_bound=1.0)
    assert len(visited) == 3
    assert 3 not in ids and 5 in ids
    # always-terminate: the first chunk over-fetches past the shadowed id
    # 3, so every query holds k after it, the search stops there, and the
    # marker segment is never searched yet still removes id 3
    got, ids, visited = run(
        termination_lower_bound=0.0, termination_factor=1e9,
        termination_threshold=1.0,
    )
    assert visited == inserts[:1]
    assert 3 not in ids and 5 in ids
    assert got.groupby("qid").size().tolist() == [10, 10]


def test_flat_segments_need_no_artifact_and_one_job(spark, tmp_path):
    """Under the default 'auto' a small segment is flat: the flush-time
    build writes no sidecar and launches no job, and a search over eight
    flat segments is ONE job whatever segments_per_job says, with the
    rows of an eight-job hnsw search at full depth."""
    import glob

    st = SegmentStore(spark, str(tmp_path / "segflat"))
    for lo in range(0, 400, 50):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 50), SCHEMA))
    conf = VectorIndexConf(dim=8, termination_lower_bound=1.0, segments_per_job=1)
    segs, build_jobs = _count_jobs(
        spark, "flat-build", lambda: st.build_segment_indexes(st.segments(), conf)
    )
    assert build_jobs == 0 and segs == st.segments()
    assert not any(s.get("index_file") for s in segs)
    assert not any(glob.glob(s["path"] + "/_*.idx") for s in segs)
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 400)) if r[0] % 37 == 0],
        "qid long, emb array<float>",
    )
    searcher = SegmentSearcher(st, conf)
    out, jobs = _count_jobs(spark, "flat-search", lambda: searcher.search(q, k=5))
    assert jobs == 1 and len(searcher.last_searched_ids) == 8
    hnsw = VectorIndexConf(
        dim=8, index_kind="hnsw", ef_search=400, termination_lower_bound=1.0,
        segments_per_job=1,
    )
    want = SegmentSearcher(st, hnsw).search(q, k=5)
    assert out[["qid", "neighbor_id", "rank"]].values.tolist() == (
        want[["qid", "neighbor_id", "rank"]].values.tolist()
    )


def test_flat_search_matches_knn_exact_row_for_row(spark, tmp_path):
    """A search over flat segments is the exact answer: with delete markers
    in a later segment (one strictly newer than its insert, one at the same
    time, which keeps it) and a freshness bound, every row equals
    ``knn_exact`` over the visible snapshot, in the job placement and in
    the driver placement alike, and so it does with an executor-side
    allowlist threaded into the scan (in_index). Distances are equal bit
    for bit: the flat kind ranks by the fold."""
    from pyspark.sql import functions as F

    from vstream_spark.operators.knn import knn_exact

    st = SegmentStore(spark, str(tmp_path / "segexact"))
    for lo in (0, 60, 120):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 60), SCHEMA))
    dels = [(i, None, i * 100 + 1, 10**12, "D") for i in range(40, 180, 9)]
    dels.append((50, None, 5000, 10**12, "D"))  # same time as its insert
    st.append_segment(spark.createDataFrame(dels, SCHEMA))
    q = spark.createDataFrame(
        [(int(i), r[1]) for i, r in enumerate(_vec_rows(0, 180, seed=7)) if i % 15 == 0],
        "qid long, emb array<float>",
    )
    searcher = SegmentSearcher(st, VectorIndexConf(dim=8))
    got = searcher.search(q, k=7, min_event_time=3000)
    assert searcher.last_placement == "job"
    # the same frame from the driver placement: one kernel, two placements
    on_driver = searcher.search(q.toPandas(), k=7, min_event_time=3000)
    assert searcher.last_placement == "driver"
    pd.testing.assert_frame_equal(on_driver, got)
    vis = searcher.visible(min_event_time=3000).select("id", "emb")
    want = knn_exact(vis, q, k=7).toPandas().sort_values(["qid", "rank"])
    assert got[["qid", "neighbor_id", "rank"]].values.tolist() == (
        want[["qid", "neighbor_id", "rank"]].values.tolist()
    )
    assert got["distance"].tolist() == want["distance"].tolist()
    assert 50 in set(vis.toPandas()["id"])  # the tie keeps the insert
    assert not set(got["neighbor_id"]) & {i for i in range(40, 180, 9)}
    even = F.col("id") % 2 == 0
    got, strategy, _ = searcher.search_filtered(
        q, even, k=7, min_event_time=3000, force_strategy="in_index",
        predicate_expr="id % 2 = 0",
    )
    want = knn_exact(vis.filter(even), q, k=7).toPandas().sort_values(["qid", "rank"])
    assert strategy == "in_index"
    assert got[["qid", "neighbor_id", "rank"]].values.tolist() == (
        want[["qid", "neighbor_id", "rank"]].values.tolist()
    )
    assert got["distance"].tolist() == want["distance"].tolist()


def test_delete_marker_cache_follows_manifest_and_bound(spark, tmp_path):
    """The searcher's versions come from a driver cache of every row's
    (id, event_time), one entry per live segment: an id with more than one
    version at or before the snapshot bound is shadowed up to its newest,
    versions after the bound do not apply, an evicted segment's entry
    goes, a marker whose insert was evicted shadows nothing, and after
    compaction only the new segments are cached, with the same versions."""
    st = SegmentStore(spark, str(tmp_path / "segmarks"))
    st.append_segment(spark.createDataFrame(_vec_rows(0, 10), SCHEMA))
    st.append_segment(spark.createDataFrame(
        [(1, None, 5000, 10**12, "D"), (2, None, 9000, 10**12, "D")]
        + _vec_rows(100, 110), SCHEMA,
    ))
    searcher = SegmentSearcher(st, VectorIndexConf(dim=8))
    ids, times = searcher._tombstones(None)
    assert ids.tolist() == [1, 2] and times.tolist() == [5000, 9000]
    ids, times = searcher._tombstones(6000)
    assert ids.tolist() == [1] and times.tolist() == [5000]
    assert searcher._tombstones(1000) is None  # one version per id
    assert len(st.versions()[0]) == 22
    assert set(st._versions) == {s["id"] for s in st.segments()}
    st.append_segment(spark.createDataFrame(_vec_rows(200, 210), SCHEMA))
    assert st.evict(older_than_event_time=1000) == 1  # the first segment
    assert searcher._tombstones(None) is None  # markers 1, 2 stand alone
    assert set(st._versions) == {s["id"] for s in st.segments()}
    before = sorted(zip(*st.versions()))
    st.compact()
    assert sorted(zip(*st.versions())) == before
    assert set(st._versions) == {s["id"] for s in st.segments()}


def _lww_probe(spark, tmp_path, placement, segments, k, max_event_time=None):
    """Search from the origin over a store of ``segments`` (lists of (id,
    emb, event_time, op) rows) with flat segments on the driver or hnsw
    sidecars in a job. Returns the (neighbor_id, distance) rows of the
    search and of ``knn_exact`` over ``visible()`` at the same bound."""
    from vstream_spark.operators.knn import knn_exact

    st = SegmentStore(spark, str(tmp_path / "lww"))
    for rows in segments:
        st.append_segment(spark.createDataFrame(
            [(i, e, t, 10**12, op) for i, e, t, op in rows], SCHEMA
        ))
    conf = VectorIndexConf(dim=4, index_kind="flat" if placement == "flat" else "hnsw")
    if placement == "hnsw":
        st.build_segment_indexes(st.segments(), conf)
    q = pd.DataFrame({"qid": [0], "emb": [np.zeros(4, dtype=np.float32)]})
    searcher = SegmentSearcher(st, conf)
    got = searcher.search(q, k=k, max_event_time=max_event_time)
    assert searcher.last_placement == ("driver" if placement == "flat" else "job")
    want = knn_exact(
        searcher.visible(max_event_time=max_event_time).select("id", "emb"),
        spark.createDataFrame(q, "qid long, emb array<float>"),
        k=k,
    ).toPandas().sort_values("rank")
    cols = ["neighbor_id", "distance"]
    return got[cols].values.tolist(), want[cols].values.tolist()


def _upsert_base():
    """Id 5 at the origin (t=105) and ids 10-19 at [i+1,0,0,0]."""
    return [(5, [0.0] * 4, 105, "I")] + [
        (i, [float(i + 1), 0.0, 0.0, 0.0], 100 + i, "I") for i in range(10, 20)
    ]


@pytest.mark.parametrize("placement", ["flat", "hnsw"])
def test_upsert_across_segments_hides_the_stale_version(spark, tmp_path, placement):
    """Id 5 moves from the origin to [9,9,9,9] in a later segment that
    also holds four nearer rows: a k=3 search from the origin returns ids
    20-22, as ``knn_exact`` over ``visible()`` does, not the stale 5@0."""
    got, want = _lww_probe(spark, tmp_path, placement, [
        _upsert_base(),
        [(5, [9.0] * 4, 2000, "I")]
        + [(i, [float(i - 19), 0.0, 0.0, 0.0], 2000 + i, "I") for i in range(20, 24)],
    ], k=3)
    assert [i for i, _ in got] == [20, 21, 22]
    assert got == want


@pytest.mark.parametrize("placement", ["flat", "hnsw"])
def test_upserts_old_version_takes_no_topk_slot(spark, tmp_path, placement):
    """Id 5 moves from the origin to [9,9,9,9] in a later segment that
    holds only it: the first segment's top-k must not spend a slot on the
    old version, so a k=3 search returns 10, 11 and 12@169, as
    ``knn_exact`` over ``visible()`` does, not 5@324."""
    got, want = _lww_probe(spark, tmp_path, placement, [
        _upsert_base(), [(5, [9.0] * 4, 2000, "I")],
    ], k=3)
    assert got == [[10, 121.0], [11, 144.0], [12, 169.0]]
    assert got == want


@pytest.mark.parametrize("placement", ["flat", "hnsw"])
def test_delete_after_the_bound_keeps_its_insert(spark, tmp_path, placement):
    """An insert at t=101 and its delete at t=2000 in one segment: a
    search bounded at t=1000 still returns the id, as ``visible()`` at the
    same bound holds it, in both placements."""
    rows = [(i, [float(i), 0.0, 0.0, 0.0], 100 + i, "I") for i in range(1, 8)]
    got, want = _lww_probe(spark, tmp_path, placement, [
        rows + [(1, None, 2000, "D")],
    ], k=3, max_event_time=1000)
    assert [i for i, _ in got] == [1, 2, 3]
    assert got == want


def test_compaction_builds_each_new_segments_resolved_kind(spark, tmp_path, monkeypatch):
    """Flat segments carry no sidecar. Compacting two of them into one past
    the flat bound (``auto_ivf_threshold``) builds that segment's 'auto'
    kind, ivf, so no executor has to rebuild it on a cache miss; a
    compaction that stays under the bound builds nothing. A store whose
    inputs carry artifacts keeps exactly their kinds past the bound."""
    import glob
    import os

    from pyspark.sql import functions as F

    bound = VectorIndexConf().auto_ivf_threshold

    def rows(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id"),
            F.array(*[F.rand(seed=j).cast("float") for j in range(4)]).alias("emb"),
            F.col("id").alias("event_time"),
            F.lit(10**12).cast("long").alias("ttl"),
            F.lit("I").alias("op"),
        )

    st = SegmentStore(spark, str(tmp_path / "segcompact"))
    st.append_segment(rows(0, 200))
    st.append_segment(rows(200, 200))
    (small,) = st.compact()
    assert not small.get("index_file")
    st.append_segment(rows(400, bound - 300))
    st.append_segment(rows(100 + bound, bound - 300))
    assert st.build_segment_indexes(st.segments(), VectorIndexConf(dim=4)) == st.segments()
    (big,) = st.compact()
    assert big["count"] == 2 * bound - 200 > bound
    assert os.path.basename(big["index_file"]) == "_ivf-l2.idx"
    assert os.path.exists(big["index_file"])

    pinned = SegmentStore(spark, str(tmp_path / "segpinned"))
    pinned.append_segment(rows(0, bound))
    pinned.append_segment(rows(bound, bound))
    pinned.build_segment_indexes(
        pinned.segments(), VectorIndexConf(dim=4, index_kind="hnsw")
    )
    (merged,) = pinned.compact()
    assert merged["count"] == 2 * bound
    sidecars = glob.glob(os.path.join(merged["path"], "_*.idx"))
    assert [os.path.basename(p) for p in sidecars] == ["_hnsw-l2.idx"]

    from vstream_spark.index import IvfIndex
    from vstream_spark.storage import search

    cosine = VectorIndexConf(dim=4, metric="cosine")
    flat = SegmentStore(spark, str(tmp_path / "segcosine"))
    flat.append_segment(rows(0, bound))
    flat.append_segment(rows(bound, bound))
    (merged,) = flat.compact(index_conf=cosine)
    assert os.path.basename(merged["index_file"]) == "_ivf-cosine.idx"

    def no_rebuild(*a, **kw):
        raise AssertionError("the cosine sidecar was not loaded")

    monkeypatch.setattr(search, "build_index_object", no_rebuild)
    _INDEX_CACHE.clear()
    assert isinstance(search._segment_index(merged, cosine), IvfIndex)


@pytest.mark.parametrize("placement", ["driver", "job"])
def test_cross_segment_deletes_fill_k(spark, tmp_path, placement):
    """A delete marker in a later segment must not leave a query short of
    k: segment A inserts ids 0-19 at [i,0,0,0] (t=100+i), segment B
    deletes ids 0-4 at t=1000, and a k=10 search from the origin returns
    ids 5-14 — ``knn_exact`` over ``visible()`` — in both placements."""
    from vstream_spark.operators.knn import knn_exact

    st = SegmentStore(spark, str(tmp_path / "underfill"))
    st.append_segment(spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0, 0.0], 100 + i, 10**12, "I") for i in range(20)],
        SCHEMA,
    ))
    st.append_segment(spark.createDataFrame(
        [(i, None, 1000, 10**12, "D") for i in range(5)], SCHEMA
    ))
    q = pd.DataFrame({"qid": [0], "emb": [np.zeros(4, dtype=np.float32)]})
    qdf = spark.createDataFrame(q, "qid long, emb array<float>")
    searcher = SegmentSearcher(st, VectorIndexConf(dim=4))
    got = searcher.search(q if placement == "driver" else qdf, k=10)
    assert searcher.last_placement == placement
    want = knn_exact(searcher.visible().select("id", "emb"), qdf, k=10).toPandas()
    assert got["neighbor_id"].tolist() == list(range(5, 15))
    assert got["neighbor_id"].tolist() == want.sort_values("rank")["neighbor_id"].tolist()


def test_placement_bound_matches_receipt():
    """The driver placement bound is the ``bound:`` line of the committed
    receipt (tools/placement_crossover.py), so a re-run receipt and the
    code cannot drift apart."""
    import os
    import re

    from vstream_spark.storage import search

    path = os.path.join(os.path.dirname(__file__), "..", "PLACEMENT_CROSSOVER.txt")
    with open(path) as f:
        (bound,) = re.findall(r"^bound: (\d+)$", f.read(), re.M)
    assert search.DRIVER_PLACEMENT_MAX_WORK == int(bound)


def test_streaming_query_places_small_batches_on_driver(spark, tmp_path, monkeypatch):
    """A small micro-batch over flat segments is searched on the driver:
    a streamed batch records placement "driver", and the sink launches
    one Spark job, the collect of its queries (no isEmpty, search or write
    job). Above the bound the same batch records "job", runs its search
    job and writes the same rows."""
    import pyarrow.parquet as pq

    from vstream_spark.storage import search
    from vstream_spark.streaming.pipeline import StreamingVectorQuery

    st = SegmentStore(spark, str(tmp_path / "segplace"))
    for lo in (0, 100):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 100), SCHEMA))
    conf = VectorIndexConf(dim=8)
    q = _vec_rows(0, 6, seed=9)
    qpdf = pd.DataFrame({"qid": [r[0] for r in q], "emb": [r[1] for r in q]})
    src = str(tmp_path / "qsrc")
    spark.createDataFrame(qpdf, "qid long, emb array<float>").coalesce(1).write.parquet(src)
    streamed = StreamingVectorQuery(st, str(tmp_path / "sout"), index_conf=conf, k=3)
    streamed.start(
        spark.readStream.schema("qid long, emb array<float>").parquet(src),
        str(tmp_path / "sckpt"),
    ).awaitTermination()
    assert [b["placement"] for b in streamed.batch_stats] == ["driver"]

    batch = spark.createDataFrame(qpdf, "qid long, emb array<float>")
    out_dir = str(tmp_path / "out")
    svq = StreamingVectorQuery(st, out_dir, index_conf=conf, k=3)
    _, jobs = _count_jobs(spark, "sink-driver", lambda: svq._sink(batch, 0))
    assert svq.batch_stats[-1]["placement"] == "driver" and jobs == 1
    monkeypatch.setattr(search, "DRIVER_PLACEMENT_MAX_WORK", 0)
    _, jobs = _count_jobs(spark, "sink-job", lambda: svq._sink(batch, 1))
    assert svq.batch_stats[-1]["placement"] == "job" and jobs == 2
    out = pq.read_table(out_dir).to_pandas()
    rows = [g.drop(columns="batch_id").reset_index(drop=True) for _, g in out.groupby("batch_id")]
    assert len(rows) == 2 and len(rows[0]) == 18
    pd.testing.assert_frame_equal(rows[0], rows[1])


def test_index_cache_survives_concurrent_driver_searches(spark, tmp_path, monkeypatch):
    """Driver-placed searches of concurrent streams share the process's
    index cache: eight threads fetching six flat segments through a
    two-entry cache, with a short switch interval, all get the segment
    they asked for, and the cache never exceeds its bound."""
    import sys
    import threading

    from vstream_spark.storage import search

    st = SegmentStore(spark, str(tmp_path / "segthreads"))
    for lo in range(0, 60, 10):
        st.append_segment(spark.createDataFrame(_vec_rows(lo, lo + 10), SCHEMA))
    segs = st.segments()
    conf = VectorIndexConf(dim=8)
    monkeypatch.setattr(search, "_INDEX_CACHE_MAX", 2)
    _INDEX_CACHE.clear()
    errors: list[BaseException] = []

    def fetch(seed: int) -> None:
        rng = np.random.RandomState(seed)
        try:
            for _ in range(60):
                seg = segs[rng.randint(len(segs))]
                idx = search._segment_index(seg, conf)
                lo = int(seg["min_event_time"]) // 100
                assert sorted(idx.labels.tolist()) == list(range(lo, lo + 10))
                assert len(_INDEX_CACHE) <= 2
        except BaseException as e:  # noqa: BLE001 - reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fetch, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    _INDEX_CACHE.clear()
