"""Distance expressions vs numpy ground truth (SURVEY §1.2 distance spaces)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vstream_spark.functions.distance import distance_expr

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 6.0, 8.0]),
    ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
    ([1.5, -2.5, 0.5], [-1.5, 2.5, -0.5]),
]


def _df(spark):
    return spark.createDataFrame(
        [(a, b) for a, b in VECS], "a array<float>, b array<float>"
    )


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_distance_matches_numpy(spark, metric):
    out = (
        _df(spark)
        .select(distance_expr(F.col("a"), F.col("b"), metric).alias("d"))
        .collect()
    )
    for row, (a, b) in zip(out, VECS):
        av = np.asarray(a, dtype=np.float32).astype(np.float64)
        bv = np.asarray(b, dtype=np.float32).astype(np.float64)
        if metric == "l2":
            exp = ((av - bv) ** 2).sum()
        elif metric == "ip":
            exp = 1.0 - av @ bv
        else:
            denom = np.linalg.norm(av) * np.linalg.norm(bv)
            exp = 1.0 - ((av @ bv) / denom if denom else 0.0)
        assert row["d"] == pytest.approx(exp, rel=1e-12)


def test_unknown_metric_raises(spark):
    with pytest.raises(ValueError):
        distance_expr(F.col("a"), F.col("b"), "manhattan")


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_numpy_paths_agree_with_knn_exact(spark, tmp_path, monkeypatch, metric):
    """Every path that scores in numpy gives ``knn_exact``'s distances, a
    zero vector among the data and the queries included (cosine scores it
    as similarity 0): the exact flat paths (the partitioned worker without
    and with a flat ``index_conf``, ``SegmentSearcher`` over flat segments
    in both placements, a ``StreamingVectorQuery`` batch, the stateful
    worker) and the PQ refine bit for bit, the IVF cell scan (the
    partitioned worker's, and a flushed ivf segment's sidecar) to 1e-12.
    k covers every row and IVF probes every cell, so each path returns
    every (query, row) pair.

    The partitioned worker is an operator like ``knn_exact`` and takes the
    metric as an argument; every segment and stateful path gets it only
    from ``VectorIndexConf.metric``, the collection's one metric."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.index import IvfIndex
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.operators.partitioned import knn_partitioned_worker
    from vstream_spark.storage import search
    from vstream_spark.storage.segments import SegmentStore
    from vstream_spark.streaming.pipeline import StreamingVectorQuery
    from vstream_spark.streaming.stateful import stateful_search_fn

    n, dim = 24, 8
    rng = np.random.RandomState(3)
    vecs = rng.rand(n, dim).astype(np.float32) - 0.5
    vecs[5] = 0.0
    qmat = np.vstack([np.zeros((1, dim), np.float32), vecs[[2, 9]], rng.rand(2, dim)]).astype(
        np.float32
    )
    vdf = spark.createDataFrame(
        [(i, v.tolist(), 0, 10**9, "I") for i, v in enumerate(vecs)],
        "id bigint, emb array<float>, event_time bigint, ttl bigint, op string",
    )
    qpd = pd.DataFrame({"qid": np.arange(len(qmat)) + 100, "emb": [q.tolist() for q in qmat]})
    qdf = spark.createDataFrame(qpd, "qid long, emb array<float>")

    def pairs(frame):
        return {(int(q), int(i)): d for q, i, d in zip(frame["qid"], frame["neighbor_id"], frame["distance"])}

    want = pairs(knn_exact(vdf.select("id", "emb"), qdf, k=n, metric=metric).toPandas())
    assert len(want) == n * len(qmat)
    one = PartitionerConf(kind="simple", num_partitions=1)
    got = {}
    for name, conf in [
        ("worker", None),
        ("worker-flat", VectorIndexConf(dim=dim, index_kind="flat")),
        ("worker-ivf", VectorIndexConf(dim=dim, index_kind="ivf", nlist=2, nprobe=2)),
        ("worker-pq", VectorIndexConf(dim=dim, index_kind="pq", pq_m=4, pq_nbits=4)),
    ]:
        got[name] = pairs(
            knn_partitioned_worker(
                vdf.select("id", "emb"), qdf, one, k=n, metric=metric, index_conf=conf
            ).toPandas()
        )

    iconf = VectorIndexConf(dim=dim, metric=metric)
    store = SegmentStore(spark, str(tmp_path / "store"))
    store.append_segment(vdf.filter("id < 12"))
    store.append_segment(vdf.filter("id >= 12"))
    for placement, queries in [("driver", qpd), ("job", qdf)]:
        searcher = search.SegmentSearcher(store, iconf)
        got[f"segments-{placement}"] = pairs(searcher.search(queries, k=n))
        assert searcher.last_placement == placement
    svq = StreamingVectorQuery(store, str(tmp_path / "sout"), index_conf=iconf, k=n)
    svq._sink(qdf, 0)
    got["streaming-query"] = pairs(pq.read_table(str(tmp_path / "sout")).to_pandas())

    ivf_conf = VectorIndexConf(dim=dim, metric=metric, auto_ivf_threshold=n - 1, nlist=2, nprobe=2)
    ivf_store = SegmentStore(spark, str(tmp_path / "ivf"))
    ivf_store.append_segment(vdf)
    ivf_store.build_segment_indexes(ivf_store.segments(), ivf_conf)
    (seg,) = ivf_store.segments()
    assert os.path.basename(seg["index_file"]) == f"_ivf-{metric}.idx"

    def no_rebuild(*a, **kw):
        raise AssertionError("the flushed sidecar was not loaded")

    monkeypatch.setattr(search, "build_index_object", no_rebuild)
    search._INDEX_CACHE.clear()
    assert isinstance(search._segment_index(seg, ivf_conf), IvfIndex)
    got["segment-ivf"] = pairs(
        search.search_segments([seg], qpd, ivf_conf, k=n, min_ts=None, ef=n, tombs=None)
    )

    class _State:
        exists, blob = False, None

        def update(self, value):
            self.blob = value

    rows = [(i, v.tolist(), 0, None, "I") for i, v in enumerate(vecs)]
    rows += [(q, e, 1, None, "Q") for q, e in zip(qpd["qid"], qpd["emb"])]
    fn = stateful_search_fn(iconf, k=n)
    pdf = pd.DataFrame(rows, columns=["id", "emb", "event_time", "ttl", "op"])
    got["stateful"] = pairs(pd.concat(fn((0,), iter([pdf]), _State())))

    for name, have in got.items():
        assert set(have) == set(want), name
        if "ivf" in name:
            for key, d in want.items():
                assert have[key] == pytest.approx(d, rel=0, abs=1e-12), (name, key)
        else:
            assert have == want, name
    if metric == "cosine":
        assert all(want[(100, i)] == 1.0 for i in range(n))
        assert all(want[(q, 5)] == 1.0 for q in qpd["qid"])
