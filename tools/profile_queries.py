"""Isolate declared queries for optimization work (guide §1):

- times each named query with the same count() action the bench uses,
  best-of-N, in a fresh session (labelled via setJobDescription);
- optionally times the computation against the noop sink too (§1.4) so the
  sink/count asymmetry is visible;
- writes .explain('formatted') to plans/r14/<name>_<tag>.txt;
- for streaming queries (memory-sink drains) dumps every micro-batch's
  durationMs/stateOperators breakdown from the StreamingQuery progress
  (the only place the per-batch walCommit/stateCommit costs are visible).

Usage:
  python tools/profile_queries.py QUERY[,QUERY...] [--tag before] [--reps 3]
         [--noop] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vstream_spark.queries import REGISTRY  # noqa: E402
from vstream_spark.session import get_spark  # noqa: E402


class ProgressLog(StreamingQueryListener):
    """Per-micro-batch progress of the streaming queries run while it is
    registered. Spark delivers a query's started event before ``start``
    returns, and its events in order, so once every started run has
    terminated no progress event of those runs is still to come."""

    def __init__(self):
        self._cond = threading.Condition()
        self._started: list[str] = []  # run ids in start order
        self._terminated: set[str] = set()
        self._progress: dict[str, list[dict]] = {}  # run id -> progress dicts

    def onQueryStarted(self, event):
        with self._cond:
            self._started.append(str(event.runId))

    def onQueryProgress(self, event):
        with self._cond:
            self._progress.setdefault(str(event.progress.runId), []).append(
                json.loads(event.progress.json))

    def onQueryTerminated(self, event):
        with self._cond:
            self._terminated.add(str(event.runId))
            self._cond.notify_all()

    def last_memory_drain(self) -> list[dict]:
        """Progress of the last run into a memory sink (a
        ``run_stream_to_memory`` drain), once every started run has
        terminated; ``[]`` when no such run was started."""
        with self._cond:
            if not self._cond.wait_for(
                lambda: self._terminated.issuperset(self._started), 60.0
            ):
                raise TimeoutError("streaming query events still pending")
            for run in reversed(self._started):
                progress = self._progress.get(run, [])
                if progress and progress[0]["sink"]["description"].startswith(
                        "MemorySink"):
                    return progress
        return []


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-dir", default="plans/r14")
    args = ap.parse_args()

    names = [q for q in args.queries.split(",") if q]
    unknown = [q for q in names if q not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    os.makedirs(args.plans_dir, exist_ok=True)

    spark = get_spark("vstream-profile")
    spark.read.parquet(f"{args.sf}/region.parquet").count()  # warmup
    try:
        from vstream_spark.queries import _hnsw_store

        _hnsw_store(spark, args.sf)
    except Exception as e:  # noqa: BLE001
        print(f"# hnsw store warmup failed: {e}", file=sys.stderr)

    out: dict[str, dict] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        rec: dict = {}
        log = ProgressLog()
        spark.streams.addListener(log)
        # count() timing — the bench's methodology, comparable numbers
        best = None
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}:count")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            n = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        rec["count_best_s"] = round(best, 4)
        rec["rows"] = n
        if args.noop:
            best_n = None
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"profile:{name}:noop")
                t0 = time.perf_counter()
                df = fn(spark, args.sf)
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best_n = dt if best_n is None else min(best_n, dt)
            rec["noop_best_s"] = round(best_n, 4)
        # plan capture (post-run: streaming queries return the drained
        # memory table, batch queries the full lazy plan)
        plan_path = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
        with open(plan_path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"))
        rec["plan"] = plan_path
        # streaming breakdown: the last memory-sink drain's per-micro-batch
        # progress (durationMs, stateOperators)
        try:
            progress = log.last_memory_drain()
        finally:
            spark.streams.removeListener(log)
        if progress:
            rec["progress"] = [
                {
                    "batchId": p.get("batchId"),
                    "durationMs": p.get("durationMs"),
                    "numInputRows": p.get("numInputRows"),
                    "stateOperators": [
                        {
                            k: so.get(k)
                            for k in (
                                "operatorName",
                                "commitTimeMs",
                                "numRowsTotal",
                                "numRowsUpdated",
                                "numShufflePartitions",
                            )
                        }
                        for so in p.get("stateOperators", [])
                    ],
                }
                for p in progress
            ]
        out[name] = rec
        print(f"# {name}: {json.dumps(rec)}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
