"""A/B the SegmentSearcher job granularity (r11 VERDICT #1 receipt).

Builds ONE multi-segment store (the bench multiseg shape: embeddings table
replayed 20x, cap = n/nseg -> ~nseg segments, IVF sidecars), then times the
SAME query batch at segments_per_job = 1 (the r11 job-per-segment shape),
the default 4, and all-at-once (one chunk) — best-of-N each, identical
results asserted. Each variant runs under its own Spark job group, so the
JSON line carries ``jobs_spj{n}`` (Spark jobs per search) next to
``qps_spj{n}``; prose quoting these numbers should name the sf_dir and
commit.

Usage: python tools/segjob_ab.py [sf_dir] [reps] [nseg]  (default sf0.1, 4, 10)
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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    nseg_target = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark("segjob-ab")
    tmp = tempfile.mkdtemp(prefix="segjob-ab-")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        vectors = emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("emb"),
            (F.col("vec_id") * 10).alias("event_time"),
            F.lit(10**12).alias("ttl"),
            F.lit("I").alias("op"),
        )
        big = replay(vectors, 20, event_time_col="event_time", advance=10**9)
        big = big.withColumn(
            "id", F.col("id") + (F.col("event_time") / 10**9).cast("long") * 10**9
        )
        n_vec = emb.count() * 20
        store = SegmentStore(
            spark, tmp + "/store",
            max_rows_per_segment=max(1, -(-n_vec // nseg_target)),
        )
        store.upsert_batch(big)
        store.build_segment_indexes(store.segments(), VectorIndexConf(index_kind="ivf"))
        n_seg = len(store.segments())
        queries = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("emb")
        )
        n_q = queries.count()

        out = {"sf_dir": sf_dir, "segments": n_seg, "n_queries": n_q, "reps": reps}
        sc = spark.sparkContext
        results = {}
        for spj in (1, 4, n_seg):
            # termination disabled (lower_bound=1.0): every variant visits
            # every segment, so the A/B isolates job granularity alone and
            # results are rep-stable (a seeded C8 EMA would let reps 2+
            # stop early and muddy both timing and the equality check)
            conf = VectorIndexConf(
                metric="l2", index_kind="ivf", nprobe=32, ef_search=32,
                segments_per_job=spj, termination_lower_bound=1.0,
            )
            searcher = SegmentSearcher(store, conf)
            best = None
            pdf = None
            group = f"segjob-ab-spj{spj}"
            sc.setJobGroup(group, group)
            try:
                for _ in range(reps):
                    t0 = time.perf_counter()
                    pdf = searcher.search(queries, k=10)
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            results[spj] = set(zip(pdf["qid"], pdf["neighbor_id"], pdf["rank"]))
            out[f"qps_spj{spj}"] = round(n_q / best, 1)
            # job events reach the status tracker through the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            out[f"jobs_spj{spj}"] = round(n_jobs / reps, 1)
        # identical results at every granularity; equality on (qid,id,rank)
        vals = list(results.values())
        out["results_identical"] = all(v == vals[0] for v in vals[1:])
        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
