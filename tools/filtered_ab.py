"""A/B the filtered-search physical plans over ONE persisted store (r13:
the in-index allowlist receipt, r12 VERDICT missing #1).

Builds a multi-segment store whose segments PERSIST an attribute column
(``label``), with HNSW sidecars, then answers the SAME weak-predicate
filtered top-k three ways on the same query batch:

- ``post_filter``  — oversampled k' = k*oversample/selectivity search +
  re-check (the r12 shape; k' is several x k in the mid-selectivity band)
- ``in_index``     — allowlist built executor-side from each segment's own
  attribute columns, threaded INTO graph traversal at depth k (the
  FilterSeqTs-functor analog, hnswlib.h:135-146)
- ``pre_filter``   — forced exact brute scan over the survivors (the
  correctness anchor both index plans are compared against)

Best-of-N each; prints one JSON line with q/s per plan and recall@k vs the
pre_filter anchor. Prose quoting these numbers should name the sf_dir and
commit.

Usage: python tools/filtered_ab.py [sf_dir] [reps] [selectivity_pct]
       (defaults: /root/testdata/sf0.1, 4, 50)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vstream_spark.config import VectorIndexConf  # noqa: E402
from vstream_spark.session import get_spark  # noqa: E402
from vstream_spark.sources.tables import load_table  # noqa: E402
from vstream_spark.sources.txt import replay  # noqa: E402
from vstream_spark.storage.search import SegmentSearcher  # noqa: E402
from vstream_spark.storage.segments import SegmentStore  # noqa: E402

K = 10


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sel_pct = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    spark = get_spark("filtered-ab")
    tmp = tempfile.mkdtemp(prefix="filtered-ab-")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        vectors = emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("emb"),
            (F.col("vec_id") % 100).cast("int").alias("label"),
            (F.col("vec_id") * 10).alias("event_time"),
            F.lit(10**12).alias("ttl"),
            F.lit("I").alias("op"),
        )
        big = replay(vectors, 8, event_time_col="event_time", advance=10**9)
        big = big.withColumn(
            "id", F.col("id") + (F.col("event_time") / 10**9).cast("long") * 10**9
        )
        n_vec = emb.count() * 8
        store = SegmentStore(
            spark, tmp + "/store", max_rows_per_segment=max(1, -(-n_vec // 8))
        )
        store.upsert_batch(big)
        store.build_segment_indexes(store.segments(), VectorIndexConf(index_kind="hnsw"))
        n_seg = len(store.segments())
        queries = spark.createDataFrame(
            emb.filter(F.col("vec_id") % 25 == 0)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("emb"))
            .collect(),
            "qid bigint, emb array<float>",
        )
        n_q = queries.count()
        pred = F.col("label") < sel_pct
        expr = f"label < {sel_pct}"

        out = {
            "sf_dir": sf_dir, "segments": n_seg, "n_vectors": n_vec,
            "n_queries": n_q, "reps": reps, "k": K,
            "selectivity_pct": sel_pct,
        }
        results = {}
        for plan in ("post_filter", "in_index", "pre_filter"):
            conf = VectorIndexConf(
                metric="l2", index_kind="hnsw", ef_search=128,
                termination_lower_bound=1.0,  # rep-stable depth (segjob_ab)
            )
            best = None
            pdf = None
            for _ in range(reps):
                searcher = SegmentSearcher(store, conf)
                t0 = time.perf_counter()
                pdf, strategy, sel = searcher.search_filtered(
                    queries, pred, k=K,
                    force_strategy=plan,
                    predicate_expr=expr if plan == "in_index" else None,
                )
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            assert strategy == plan
            results[plan] = {
                (int(q), int(n)) for q, n in zip(pdf["qid"], pdf["neighbor_id"])
            }
            out[f"qps_{plan}"] = round(n_q / best, 1)
            out["selectivity"] = round(sel, 4)
        anchor = results["pre_filter"]
        for plan in ("post_filter", "in_index"):
            inter = len(results[plan] & anchor)
            out[f"recall_{plan}"] = round(inter / max(1, len(anchor)), 4)
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
