"""Partitioned pipeline: exactness under full fan-out, ANN recall under
pruning (mirrors StreamSearchAccuracyTest recall thresholds, SURVEY §5.2)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vstream_spark.config import PartitionerConf
from vstream_spark.operators.knn import knn_exact
from vstream_spark.operators.partitioned import knn_partitioned, knn_partitioned_worker

N, Q, DIM, K = 500, 20, 16, 10


@pytest.fixture(scope="module")
def dfs(spark):
    rng = np.random.RandomState(11)
    # clustered data (10 gaussian blobs) so LSH pruning has structure to find
    centers = rng.rand(10, DIM) * 4
    base = (centers[rng.randint(0, 10, N)] + rng.randn(N, DIM) * 0.15).astype(np.float32)
    vdf = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(N)], "id bigint, emb array<float>"
    )
    qidx = rng.choice(N, Q, replace=False)
    qdf = spark.createDataFrame(
        [(int(i), base[i].tolist()) for i in qidx], "qid bigint, emb array<float>"
    )
    return vdf, qdf


def _result_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.qid, set()).add(r.neighbor_id)
    return out


def test_simple_partitioned_equals_exact(spark, dfs):
    vdf, qdf = dfs
    exact = knn_exact(vdf, qdf, k=K).collect()
    part = knn_partitioned(
        vdf, qdf, PartitionerConf(kind="simple", num_partitions=8), k=K
    ).collect()
    key = lambda rows: sorted((r.qid, r.rank, r.neighbor_id, round(r.distance, 9)) for r in rows)
    assert key(exact) == key(part)


@pytest.mark.parametrize(
    "conf",
    [
        PartitionerConf(kind="lsh", num_partitions=8, num_families=4, num_hashes=4, bucket_width=8.0),
        PartitionerConf(kind="lsh+proximity", num_partitions=8, num_families=2, num_hashes=4, bucket_width=8.0, num_probes=1),
    ],
)
def test_lsh_pruned_recall(spark, dfs, conf):
    vdf, qdf = dfs
    exact = _result_sets(knn_exact(vdf, qdf, k=K))
    ann = _result_sets(knn_partitioned(vdf, qdf, conf, k=K))
    recalls = [len(ann.get(q, set()) & ids) / K for q, ids in exact.items()]
    assert np.mean(recalls) >= 0.85, f"mean recall {np.mean(recalls):.3f}"


def test_worker_path_matches_jvm_path(spark, dfs):
    """Cogrouped numpy worker and JVM join path must find the same ids under
    the same partitioner (distances may differ in last ulp)."""
    vdf, qdf = dfs
    conf = PartitionerConf(kind="simple", num_partitions=4)
    jvm = _result_sets(knn_partitioned(vdf, qdf, conf, k=K))
    worker = _result_sets(knn_partitioned_worker(vdf, qdf, conf, k=K))
    assert jvm == worker


def test_ivf_probe_recall(spark, dfs):
    """Per-partition IVF through ``index_conf``: ef_search doubles as nprobe
    (the worker probes max(ef_search, k) cells), so 10 of 32 cells here."""
    from vstream_spark.config import VectorIndexConf

    vdf, qdf = dfs
    conf = PartitionerConf(kind="kmeans", num_partitions=4, replication_factor=1)
    iconf = VectorIndexConf(dim=DIM, index_kind="ivf", nlist=32, ef_search=K)
    exact = _result_sets(knn_exact(vdf, qdf, k=K))
    ann = _result_sets(knn_partitioned_worker(vdf, qdf, conf, k=K, index_conf=iconf))
    recalls = [len(ann.get(q, set()) & ids) / K for q, ids in exact.items()]
    assert np.mean(recalls) >= 0.8, f"mean recall {np.mean(recalls):.3f}"


def test_worker_index_kinds_agree(spark):
    """The per-partition worker honors index_kind: hnsw/ivf/pq all find the
    same obvious nearest neighbor (a query identical to a stored vector)."""
    import numpy as np

    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.operators.partitioned import knn_partitioned_worker

    rng = np.random.RandomState(11)
    rows = [(int(i), rng.rand(8).astype(np.float32).tolist()) for i in range(3000)]
    vectors = spark.createDataFrame(rows, "id long, emb array<float>")
    queries = spark.createDataFrame(
        [(0, rows[42][1]), (1, rows[777][1])], "qid long, emb array<float>"
    )
    conf = PartitionerConf(kind="simple", num_partitions=2)
    for kind, extra in (
        ("hnsw", {"m": 16, "ef_search": 64}),
        ("ivf", {"nlist": 8, "nprobe": 8}),
        ("pq", {"pq_m": 4}),
    ):
        iconf = VectorIndexConf(dim=8, index_kind=kind, **extra)
        got = knn_partitioned_worker(
            vectors, queries, conf, k=1, metric="l2", index_conf=iconf
        ).toPandas()
        by = {int(r.qid): int(r.neighbor_id) for r in got.itertuples()}
        assert by == {0: 42, 1: 777}, kind


def test_worker_auto_kind_resolves_by_shard_size(spark):
    """index_kind='auto' in the partitioned worker goes through the shared
    conf-driven builder: with auto_ivf_threshold below the shard size the
    results equal index_kind='ivf' (same nlist/nprobe), above it they equal
    index_kind='flat', the exact scan."""
    from vstream_spark.config import VectorIndexConf

    rng = np.random.RandomState(5)
    rows = [(int(i), rng.rand(32).astype(np.float32).tolist()) for i in range(600)]
    vectors = spark.createDataFrame(rows, "id long, emb array<float>")
    queries = spark.createDataFrame(
        [(int(i), rows[i][1]) for i in range(0, 600, 40)], "qid long, emb array<float>"
    )
    conf = PartitionerConf(kind="simple", num_partitions=2)

    def run(**kw):
        # coarse settings keep ivf approximate (ef_search doubles as the
        # IVF nprobe: max(1, k) = 5 of 16 cells)
        iconf = VectorIndexConf(
            dim=32, m=4, ef_construction=8, ef_search=1, nlist=16, **kw
        )
        out = knn_partitioned_worker(
            vectors, queries, conf, k=5, metric="l2", index_conf=iconf
        )
        return sorted((r.qid, r.neighbor_id, r.rank, r.distance) for r in out.collect())

    ivf, flat = run(index_kind="ivf"), run(index_kind="flat")
    assert ivf != flat  # the two kinds are told apart by their results
    assert run(index_kind="auto", auto_ivf_threshold=50) == ivf
    assert run(index_kind="auto", auto_ivf_threshold=10_000) == flat


def test_worker_per_query_k(spark):
    """k=None: each query gets exactly its own k rows back (exact path)."""
    import numpy as np
    import pytest as _pytest

    from vstream_spark.config import PartitionerConf
    from vstream_spark.operators.partitioned import (
        knn_partitioned,
        knn_partitioned_worker,
    )

    rng = np.random.RandomState(2)
    rows = [(int(i), rng.rand(8).astype(np.float32).tolist()) for i in range(200)]
    vectors = spark.createDataFrame(rows, "id long, emb array<float>")
    queries = spark.createDataFrame(
        [(0, rows[3][1], 3), (1, rows[9][1], 7)],
        "qid long, emb array<float>, k int",
    )
    conf = PartitionerConf(kind="simple", num_partitions=4)
    for fn in (knn_partitioned_worker, knn_partitioned):
        got = fn(vectors, queries, conf, k=None, metric="l2").toPandas()
        counts = got.groupby("qid").size().to_dict()
        assert counts == {0: 3, 1: 7}, fn.__name__
        assert got[got.qid == 0].iloc[0]["neighbor_id"] == 3
        with _pytest.raises(ValueError):
            fn(vectors, queries.drop("k"), conf, k=None)


def test_worker_per_query_ef_search_column(spark):
    """Per-query search-option parity (vector_options.h:79-95, r4 VERDICT
    #10): an ``ef_search`` column
    on the query side overrides index_conf.ef_search per query in the
    partitioned index worker. Proven by equivalence: a per-query-ef run with
    every query at ef=E returns exactly the global ef=E run's results, for
    two different E."""
    import numpy as np
    from pyspark.sql import functions as F

    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.operators.partitioned import knn_partitioned_worker

    rng = np.random.RandomState(3)
    vecs = [(i, rng.rand(16).astype(float).tolist()) for i in range(600)]
    vectors = spark.createDataFrame(vecs, "id bigint, emb array<double>")
    qrows = [(int(i), vecs[i][1]) for i in range(0, 600, 60)]
    queries = spark.createDataFrame(qrows, "qid bigint, emb array<double>")
    conf = PartitionerConf(kind="simple", num_partitions=4)

    def run(ef_global, ef_col):
        iconf = VectorIndexConf(dim=16, m=8, ef_construction=64,
                                ef_search=ef_global, index_kind="hnsw")
        q = queries
        if ef_col is not None:
            q = q.withColumn("ef_search", F.lit(ef_col))
        out = knn_partitioned_worker(vectors, q, conf, k=5, metric="l2",
                                     index_conf=iconf)
        return sorted((r.qid, r.neighbor_id, r.rank) for r in out.collect())

    for ef in (5, 64):
        assert run(ef_global=ef, ef_col=None) == run(
            ef_global=999, ef_col=ef
        ), f"per-query ef={ef} must match global ef={ef}"

    # MIXED per-query values: each query must be searched at its own ef —
    # low-ef qids reproduce the global-low run, high-ef qids the global-high
    lo = {t for t in run(ef_global=5, ef_col=None) if t[0] % 120 == 0}
    hi = {t for t in run(ef_global=64, ef_col=None) if t[0] % 120 != 0}
    q_mixed = queries.withColumn(
        "ef_search",
        F.when(F.col("qid") % 120 == 0, F.lit(5)).otherwise(F.lit(64)),
    )
    iconf = VectorIndexConf(dim=16, m=8, ef_construction=64,
                            ef_search=999, index_kind="hnsw")
    mixed = knn_partitioned_worker(vectors, q_mixed, conf, k=5, metric="l2",
                                   index_conf=iconf)
    got = {(r.qid, r.neighbor_id, r.rank) for r in mixed.collect()}
    assert got == lo | hi
