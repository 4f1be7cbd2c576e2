"""C5 vector compression: int8-codec segment storage (quantized at rest,
dequantized transparently at read; compaction preserves codes losslessly)."""

import os

import numpy as np
import pytest

from vstream_spark.config import VectorIndexConf
from vstream_spark.storage.segments import SegmentStore

SCHEMA = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string"


def _rows(lo, hi, dim=8, seed=0):
    rng = np.random.RandomState(seed + lo)
    return [
        (i, (rng.rand(dim).astype(np.float32) * 2 - 1).tolist(), i * 100, 10**12, "I")
        for i in range(lo, hi)
    ]


def _dir_bytes(path):
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@pytest.fixture()
def q_store(spark, tmp_path):
    st = SegmentStore(spark, str(tmp_path / "q"), codec="int8")
    for lo in (0, 100):
        st.append_segment(spark.createDataFrame(_rows(lo, lo + 100), SCHEMA))
    return st


def test_int8_roundtrip_error_bounded(spark, q_store):
    # on disk: quantized columns, no float embedding
    seg = q_store.segments()[0]
    assert seg["codec"] == "int8"
    raw = spark.read.parquet(seg["path"])
    assert "emb_q" in raw.columns and "emb" not in raw.columns
    assert dict(raw.dtypes)["emb_q"] == "array<tinyint>"
    # read(): float surface restored; per-element error <= scale/2 + eps
    got = {r["id"]: np.array(r["emb"]) for r in q_store.read().collect()}
    for lo in (0, 100):
        for i, emb, *_ in _rows(lo, lo + 100):
            v = np.array(emb, dtype=np.float32)
            bound = np.abs(v).max() / 127.0 / 2.0 + 1e-6
            assert np.abs(got[i] - v).max() <= bound


def test_int8_smaller_on_disk(spark, tmp_path):
    # one file per segment so data, not per-file parquet overhead, dominates
    rows = _rows(0, 2000, dim=64)
    raw_st = SegmentStore(spark, str(tmp_path / "raw"))
    int8_st = SegmentStore(spark, str(tmp_path / "int8"), codec="int8")
    raw_seg = raw_st.append_segment(spark.createDataFrame(rows, SCHEMA).coalesce(1))
    q_seg = int8_st.append_segment(spark.createDataFrame(rows, SCHEMA).coalesce(1))
    # random float32 mantissas barely compress; int8 codes are 4x narrower
    # (measured ~0.31 at this shape)
    assert _dir_bytes(q_seg["path"]) < 0.5 * _dir_bytes(raw_seg["path"])


def test_search_over_int8_store(spark, q_store):
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.storage.search import SegmentSearcher

    q = q_store.read().filter("id % 40 = 0").selectExpr("id as qid", "emb")
    conf = VectorIndexConf(dim=8, ef_search=256, termination_lower_bound=1.0)
    got = SegmentSearcher(q_store, conf).search(q, k=5, ef_search=256)
    want = knn_exact(
        q_store.read().select("id", "emb"), q, k=5, metric="l2"
    ).toPandas()
    g = set(zip(got["qid"], got["neighbor_id"]))
    w = set(zip(want["qid"], want["neighbor_id"]))
    assert len(g & w) / len(w) >= 0.9


def test_compaction_preserves_codes_exactly(spark, q_store):
    before = sorted(
        (r["id"], tuple(r["emb_q"]), float(r["emb_scale"]))
        for seg in q_store.segments()
        for r in spark.read.parquet(seg["path"]).collect()
    )
    segs = q_store.compact(max_rows_per_segment=75)
    assert len(segs) >= 2 and all(s["codec"] == "int8" for s in segs)
    after = sorted(
        (r["id"], tuple(r["emb_q"]), float(r["emb_scale"]))
        for seg in segs
        for r in spark.read.parquet(seg["path"]).collect()
    )
    assert before == after  # merged at-rest, never recoded


def test_index_build_over_int8_segment(spark, q_store):
    (seg,) = q_store.build_segment_indexes(
        q_store.segments()[:1], VectorIndexConf(dim=8, index_kind="hnsw")
    )
    assert os.path.exists(seg["index_file"])
