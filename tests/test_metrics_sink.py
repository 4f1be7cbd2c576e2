"""M3 ranking metrics: recall@k, MRR and nDCG."""

import numpy as np

from vstream_spark.functions.metrics import mean_recall, recall_at_k


def _results(spark, rows):
    return spark.createDataFrame(
        rows, "qid long, neighbor_id long, distance double, rank int"
    )


def test_recall_at_k_exact_and_partial(spark):
    gt = _results(spark, [(1, 10, 0.1, 1), (1, 11, 0.2, 2), (2, 20, 0.3, 1), (2, 21, 0.4, 2)])
    res = _results(spark, [(1, 10, 0.1, 1), (1, 11, 0.2, 2), (2, 20, 0.3, 1), (2, 99, 0.5, 2)])
    r = {x.qid: x.recall for x in recall_at_k(res, gt, k=2).collect()}
    assert r == {1: 1.0, 2: 0.5}
    assert abs(mean_recall(res, gt, 2) - 0.75) < 1e-12


def test_recall_missing_query_scores_zero(spark):
    gt = _results(spark, [(1, 10, 0.1, 1), (2, 20, 0.2, 1)])
    res = _results(spark, [(1, 10, 0.1, 1)])
    r = {x.qid: x.recall for x in recall_at_k(res, gt, k=1).collect()}
    assert r == {1: 1.0, 2: 0.0}


def test_recall_of_hnsw_vs_exact_on_random(spark):
    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.operators.knn import knn_exact
    from vstream_spark.operators.partitioned import knn_partitioned_worker

    rng = np.random.RandomState(5)
    rows = [(int(i), rng.rand(12).astype(float).tolist()) for i in range(250)]
    vectors = spark.createDataFrame(rows, "id long, emb array<float>")
    queries = vectors.filter("id % 25 = 0").selectExpr("id as qid", "emb")
    gt = knn_exact(vectors, queries, k=5, metric="l2")
    ann = knn_partitioned_worker(
        vectors, queries, PartitionerConf(kind="simple", num_partitions=2),
        k=5, metric="l2",
        index_conf=VectorIndexConf(dim=12, ef_search=64),
    )
    assert mean_recall(ann, gt, 5) >= 0.9
