"""S3 replay, W6 buffered upsert,
feature-hashing embedding."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vstream_spark.sources.txt import replay
from vstream_spark.storage.segments import SegmentStore

SCHEMA = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"


def test_replay_advances_event_time(spark):
    df = spark.createDataFrame([(1, 100), (2, 200)], "id long, event_time long")
    out = replay(df, loops=3, event_time_col="event_time", advance=1000)
    assert out.count() == 6
    times = sorted(r.event_time for r in out.filter("id = 1").collect())
    assert times == [100, 1100, 2100]
    with pytest.raises(ValueError):
        replay(df, 0)


def test_upsert_batch_annihilation(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "seg"))
    batch = spark.createDataFrame(
        [
            (1, [1.0], 100, 10**9, "I"),  # plain insert -> survives
            (2, [2.0], 100, 10**9, "I"),  # insert + later delete -> only D row
            (2, None, 200, 10**9, "D"),
            (3, [3.0], 300, 10**9, "I"),  # delete then LATER insert -> insert
            (3, None, 250, 10**9, "D"),
            (4, [4.0], 100, 10**9, "I"),  # tie: insert outranks delete
            (4, None, 100, 10**9, "D"),
            (5, None, 500, 10**9, "D"),  # bare delete marker -> kept (tombstone)
        ],
        SCHEMA,
    )
    seg = store.upsert_batch(batch)
    assert seg["count"] == 5  # one surviving row per id
    rows = {r.id: r.op for r in store.read().collect()}
    assert rows == {1: "I", 2: "D", 3: "I", 4: "I", 5: "D"}


def test_upsert_tombstones_older_segments(spark, tmp_path):
    store = SegmentStore(spark, str(tmp_path / "seg"))
    store.upsert_batch(
        spark.createDataFrame([(1, [1.0], 100, 10**9, "I"), (2, [2.0], 100, 10**9, "I")], SCHEMA)
    )
    store.upsert_batch(spark.createDataFrame([(1, None, 200, 10**9, "D")], SCHEMA))
    from vstream_spark.operators.knn import apply_deletes

    live = apply_deletes(store.read())
    assert [r.id for r in live.collect()] == [2]


def test_embed_text_composes_and_matches_tf(spark):
    from vstream_spark.operators.embed import embed_text, hashed_tf

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b b b"), (2, "z")], "doc_id long, text string"
    )
    tf = {(r.doc_id, r.bucket): r.tf for r in hashed_tf(docs, dim=8).collect()}
    emb = {r.doc_id: np.asarray(r.emb, dtype=np.float64) for r in embed_text(docs, dim=8).collect()}
    # dense vector IS the L2-normalized sparse histogram (same md5 buckets)
    for d in (0, 1, 2):
        hist = np.zeros(8)
        for (dd, b), c in tf.items():
            if dd == d:
                hist[b] = c
        want = hist / np.linalg.norm(hist)
        assert np.allclose(emb[d], want, atol=1e-6)
    # doc 1 is a one-hot: its norm concentrates in one bucket
    assert (emb[1] > 0).sum() == 1


def test_delete_where_masks_and_is_logical(tmp_path, spark):
    from pyspark.sql import functions as F

    from vstream_spark.storage.segments import SegmentStore

    st = SegmentStore(spark, str(tmp_path / "erase"))
    rows = [(i, [float(i)], 1000 + i, 10**9, "I") for i in range(10)]
    schema = "id long, emb array<float>, event_time long, ttl long, op string"
    st.upsert_batch(spark.createDataFrame(rows, schema))
    n_segs = len(st.segments())
    seg = st.delete_where(F.col("id") >= 7, event_time=5000)
    # one NEW tombstone segment; no data segment rewritten
    assert len(st.segments()) == n_segs + 1 and seg["count"] == 3
    from vstream_spark.operators.knn import apply_deletes

    visible = apply_deletes(st.read()).select("id")
    assert sorted(r.id for r in visible.collect()) == list(range(7))
    # compaction afterwards physically reclaims: erased ids gone at rest
    st.compact()
    assert sorted(
        r.id for r in apply_deletes(st.read()).select("id").collect()
    ) == list(range(7))


def test_delete_where_rejects_stale_event_time(tmp_path, spark):
    """A delete marker that is not strictly later than every victim insert
    would be silently masked by LWW — the store must refuse it (ADVICE r4)."""
    import pytest
    from pyspark.sql import functions as F

    from vstream_spark.operators.knn import apply_deletes
    from vstream_spark.storage.segments import SegmentStore

    st = SegmentStore(spark, str(tmp_path / "stale-erase"))
    rows = [(i, [float(i)], 1000 + i, 10**9, "I") for i in range(5)]
    schema = "id long, emb array<float>, event_time long, ttl long, op string"
    st.upsert_batch(spark.createDataFrame(rows, schema))
    # max victim insert ts is 1004; equal-or-earlier must raise
    with pytest.raises(ValueError, match="strictly later"):
        st.delete_where(F.col("id") >= 3, event_time=1004)
    # omitting event_time defaults to max+1 and the erase takes effect
    seg = st.delete_where(F.col("id") >= 3)
    assert seg["count"] == 2 and seg["min_event_time"] == 1005
    visible = apply_deletes(st.read()).select("id")
    assert sorted(r.id for r in visible.collect()) == [0, 1, 2]
    # a no-match predicate is a clean no-op, not an error
    assert st.delete_where(F.col("id") > 10**6) is None


def test_dim_validation_rejects_mismatch(tmp_path, spark):
    import pytest

    from vstream_spark.storage.segments import SegmentStore

    st = SegmentStore(spark, str(tmp_path / "dimcheck"), dim=2)
    schema = "id long, emb array<float>, event_time long, ttl long, op string"
    ok = spark.createDataFrame([(1, [1.0, 2.0], 10, 10**9, "I")], schema)
    assert st.upsert_batch(ok)["count"] == 1
    bad = spark.createDataFrame(
        [(2, [1.0, 2.0, 3.0], 11, 10**9, "I")], schema
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        st.upsert_batch(bad)
    # NULL-emb delete markers are exempt (they carry no vector)
    marker = spark.createDataFrame([(1, None, 12, 10**9, "D")], schema)
    assert st.upsert_batch(marker)["count"] == 1


def test_segment_rotation_at_cap(spark, tmp_path):
    """C2 rotation parity (params.yaml:58 — the reference rotates HNSW
    tables at 250k vectors): a flush above max_rows_per_segment splits into
    event-time-RANGED segments (compact's quantile scheme, so C6 TTL
    pruning keeps working), written in one partitioned job; below the cap
    the one-batch-one-segment contract is unchanged. Search over the
    rotated store matches the exact scan."""
    import numpy as np

    from vstream_spark.storage.segments import SegmentStore

    schema = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"
    rng = np.random.RandomState(3)
    rows = [
        (i, rng.rand(8).astype(np.float32).tolist(), i * 10, 10**12, "I")
        for i in range(350)
    ]
    st = SegmentStore(spark, str(tmp_path / "seg"), dim=8, max_rows_per_segment=100)
    segs = st.append_batch(spark.createDataFrame(rows, schema))
    assert len(segs) == 4
    assert sum(s["count"] for s in segs) == 350
    # time-RANGED: segment windows must not interleave (C6 stays effective)
    ordered = sorted(segs, key=lambda s: s["min_event_time"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["max_event_time"] < b["min_event_time"]
    # TTL pruning actually skips rotated segments
    assert len(st.prune(min_event_time=ordered[-1]["min_event_time"])) == 1

    # below the cap: single segment, same as before
    small = [(1000, rng.rand(8).astype(np.float32).tolist(), 10**6, 10**12, "I")]
    segs2 = st.append_batch(spark.createDataFrame(small, schema))
    assert len(segs2) == 1 and segs2[0]["count"] == 1

    # search over the rotated store matches exact
    from vstream_spark.config import VectorIndexConf
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.storage.search import SegmentSearcher

    q = st.read().filter("id in (7, 200)").selectExpr("id as qid", "emb")
    got = (
        SegmentSearcher(st, VectorIndexConf(dim=8, ef_search=64))
        .search(q, k=3)
        .sort_values(["qid", "rank"])
    )
    want = (
        knn_exact(st.read().filter("op = 'I'"), q, k=3, metric="l2")
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    assert got["neighbor_id"].tolist() == want["neighbor_id"].tolist()

    # dim validation still enforced on the rotation path
    import pytest as _pytest

    bad = [(2000, [0.0] * 5, 5, 10**12, "I")]
    with _pytest.raises(ValueError, match="dimension mismatch"):
        st.append_batch(spark.createDataFrame(bad, schema))


def test_segment_rotation_cap_holds_under_tied_timestamps(spark, tmp_path):
    """Quantile bounds compare with strict '>', so duplicate timestamps
    collapse buckets — a bulk load stamped with ONE ingestion time used to
    land as a single segment of n rows, silently voiding the 250k cap (and
    the O(n^2)-sensitive HNSW sidecar build behind it). Over-cap time
    buckets must sub-split by id hash; sub-splits share a time range
    (overlap is fine for TTL pruning — unbounded segments are not)."""
    import numpy as np

    from vstream_spark.storage.segments import SegmentStore

    schema = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"
    rng = np.random.RandomState(7)
    # all 350 rows share one event_time (single-stamp bulk load)
    rows = [
        (i, rng.rand(8).astype(np.float32).tolist(), 12345, 10**12, "I")
        for i in range(350)
    ]
    st = SegmentStore(spark, str(tmp_path / "tied"), dim=8, max_rows_per_segment=100)
    segs = st.append_batch(spark.createDataFrame(rows, schema))
    assert sum(s["count"] for s in segs) == 350
    assert all(s["count"] <= 100 for s in segs), [s["count"] for s in segs]
    assert len(segs) >= 4
    # no row lost or duplicated across the hash sub-split
    ids = [r.id for r in st.read().select("id").collect()]
    assert sorted(ids) == list(range(350))

    # skewed (not fully tied): half the rows on one timestamp, half spread
    rows2 = [
        (1000 + i, rng.rand(8).astype(np.float32).tolist(),
         777 if i < 175 else 10_000 + i, 10**12, "I")
        for i in range(350)
    ]
    st2 = SegmentStore(spark, str(tmp_path / "skew"), dim=8, max_rows_per_segment=100)
    segs2 = st2.append_batch(spark.createDataFrame(rows2, schema))
    assert sum(s["count"] for s in segs2) == 350
    assert all(s["count"] <= 100 for s in segs2), [s["count"] for s in segs2]

    # worst case: ONE hot id carries every row at ONE timestamp (append-path
    # upsert history) — an id-only hash sub-split would put all 350 rows in
    # one bucket; the row-unique re-split key must still enforce the cap
    rows3 = [
        (42, rng.rand(8).astype(np.float32).tolist(), 999, 10**12, "I")
        for _ in range(350)
    ]
    st3 = SegmentStore(spark, str(tmp_path / "hotid"), dim=8, max_rows_per_segment=100)
    segs3 = st3.append_batch(spark.createDataFrame(rows3, schema))
    assert sum(s["count"] for s in segs3) == 350
    assert all(s["count"] <= 100 for s in segs3), [s["count"] for s in segs3]


def test_upsert_batch_rotated_return_reports_full_flush(spark, tmp_path):
    """A rotated upsert flush must report the FULL flushed count and time
    range (the old contract returned the last shard only, under-reporting
    the flush)."""
    import numpy as np

    from vstream_spark.storage.segments import SegmentStore

    schema = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"
    rng = np.random.RandomState(9)
    rows = [
        (i, rng.rand(8).astype(np.float32).tolist(), i * 10, 10**12, "I")
        for i in range(250)
    ]
    st = SegmentStore(spark, str(tmp_path / "rot"), dim=8, max_rows_per_segment=100)
    out = st.upsert_batch(spark.createDataFrame(rows, schema))
    assert out["count"] == 250
    assert out["min_event_time"] == 0 and out["max_event_time"] == 2490
    assert len(out["segments"]) >= 3
    assert sum(s["count"] for s in out["segments"]) == 250


def test_segment_rotation_does_not_over_split(spark, tmp_path):
    """Rotation buckets are sized with headroom for percentile_approx's
    rank error: at 40,000 rows and a 2,500-row cap, buckets sized at exactly
    the cap came out a few rows over it, and the re-split halved each of
    those (20 segments where 16 hold the rows). The 40,000-row shape is
    needed: below about 10,000 rows the quantiles are exact."""
    from pyspark.sql import functions as F

    from vstream_spark.storage.segments import SegmentStore

    n, cap = 40_000, 2_500
    # 2,000 event times replayed 20 times, each replay 10^9 later
    rows = spark.range(0, n, 1, 20).select(
        F.col("id"),
        F.array(*[F.sin(F.col("id") * (j + 1)).cast("float") for j in range(4)]).alias("emb"),
        ((F.col("id") % 2000) * 10 + (F.col("id") / 2000).cast("long") * 10**9).alias(
            "event_time"
        ),
        F.lit(10**12).alias("ttl"),
        F.lit("I").alias("op"),
    )
    st = SegmentStore(spark, str(tmp_path / "split"), dim=4, max_rows_per_segment=cap)
    segs = st.append_batch(rows)
    counts = [s["count"] for s in segs]
    assert sum(counts) == n
    assert max(counts) <= cap, counts
    assert len(segs) <= -(-n // cap) + 1, counts
