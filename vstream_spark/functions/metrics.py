"""Result-quality metrics (M3: SearchResult.getAccuracy, SearchResult.java:192-201).

recall@k = |result ids ∩ ground-truth ids| / k per query — the reference's
primary correctness signal, computed against brute-force ground truth
(StreamSearchJobTest.java:104-126). Here the ground truth is the in-engine
exact kNN (knn_exact), so any ANN path can be scored with one join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def recall_at_k(results: DataFrame, ground_truth: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of ``results`` against ``ground_truth``.

    Both inputs are exploded result frames (qid, neighbor_id[, ...]). Returns
    (qid, recall DOUBLE). Queries present in ground truth but absent from
    results score 0.0. Distributed: a hash join on (qid, neighbor_id) + one
    aggregation — no collects, scales with the result set not the data.
    """
    hits = (
        results.select("qid", "neighbor_id")
        .join(ground_truth.select("qid", "neighbor_id"), ["qid", "neighbor_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("_hits"))
    )
    return (
        ground_truth.select("qid")
        .distinct()
        .join(hits, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("_hits"), F.lit(0)) / F.lit(float(k))).alias("recall"),
        )
    )


def mean_recall(results: DataFrame, ground_truth: DataFrame, k: int) -> float:
    """Scalar mean recall@k over all queries (test harness convenience)."""
    row = recall_at_k(results, ground_truth, k).agg(F.avg("recall")).collect()[0]
    return float(row[0]) if row[0] is not None else 0.0
