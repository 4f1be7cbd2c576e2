"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_segments --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones declared in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones, from a
separate run that records spans around calls into the engine and reads
Spark's status stores afterwards. The line before it is a JSON report with
sample counts, check details and the run's stamps (cpus, seed, offered rate,
source hash). The exit code is non-zero when a strict correctness check
fails or the run cannot start. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("stream_segments", "stream_stateful")
# the subset of per-layer metrics repeated for the single-core leg
SINGLE_CORE = (
    "pipeline.ingest_drain_ms", "pipeline.query_drain_ms", "pipeline.batches",
    "segments.append_ms", "segments.index_build_ms", "search.call_ms",
    "search.jobs_per_call", "spark.jobs", "spark.tasks", "spark.task_run_s",
    "spark.driver_gap_s",
)


def _tree_pids(root: int) -> dict[int, int]:
    """``root`` and all its descendants: pid -> parent pid."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = {root: 0}, [root]
    while todo:
        p = todo.pop()
        for k in kids.get(p, []):
            out[k] = p
            todo.append(k)
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver, the JVM and its Python workers), sampled every 100 ms.

    A child the JVM has cloned but not yet exec'd (Hadoop's shell calls,
    the Python daemon's launch) still reports the JVM's own pages; it is
    skipped, or one sample would count the JVM twice."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self.peak_mb_by_proc: dict[str, float] = {}  # at the peak: MB per process kind
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            tree = _tree_pids(me)
            cmds = {pid: _cmdline(pid) for pid in tree}
            by_kind: dict[str, int] = {}
            for pid, ppid in tree.items():
                cmd = cmds[pid]
                if pid != me and b"java" in cmd and cmd == cmds.get(ppid):
                    continue
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss = int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    continue
                kind = ("driver" if pid == me else "jvm" if b"java" in cmd
                        else "python_workers" if b"pyspark" in cmd else "other")
                by_kind[kind] = by_kind.get(kind, 0) + rss
            total = sum(by_kind.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_mb_by_proc = {k: round(v / (1 << 20)) for k, v in by_kind.items()}
            self._halt.wait(0.1)

    def stop(self):
        self._halt.set()
        if self.is_alive():
            self.join()


def _source_hash() -> str:
    """Content hash of the engine sources: the checkout is not always a git
    repository, so this stands in for the commit."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "vstream_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return "src-" + h.hexdigest()[:12]


def _start_spark(work: str, cores: int, app: str):
    from vstream_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app,
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # keep every job, stage and SQL execution of a run in the status
            # stores (set in traced and untraced runs alike)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is stopped below either way
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every remaining descendant process to end."""
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def _warm_worker(_):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow.parquet  # noqa: F401

    import vstream_spark.index.hnsw  # noqa: F401
    import vstream_spark.storage.search  # noqa: F401

    return 0


def run_workload(name: str, seed: int, seconds: float, trace: bool, cores: int,
                 work: str, t_start: float, setups: int | None = None):
    import workloads
    from spans import Tracer

    os.makedirs(work)
    spark = _start_spark(work, cores, f"perfbench-{name}")
    t_session = time.time() * 1000.0
    # start one Python worker per core and import the engine in each, so
    # the first timed task does not pay for it (part of set-up)
    spark.sparkContext.parallelize(range(cores), cores).map(_warm_worker).collect()
    rss = RssSampler()
    rss.start()
    ctx = workloads.Ctx(spark, work, seed, seconds, Tracer(spark.sparkContext, trace),
                        t_start, rss, setups or workloads.SETUPS)
    ctx.phases["session"] = round((t_session - t_start) / 1000.0, 3)
    ctx.mark("workers")
    try:
        res = getattr(workloads, name)(ctx, cores)
    finally:
        rss.stop()
    res.e2e["peak_rss_mb"] = rss.peak_bytes / (1 << 20)
    res.info["setup_phases_s"] = ctx.phases
    res.info["peak_rss_mb_by_proc"] = rss.peak_mb_by_proc
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time() * 1000.0
    # one BLAS thread per process: Spark already runs one Python worker per
    # core, and their numpy calls would otherwise oversubscribe the cores,
    # which makes timings swing with the machine's other load
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            decl = json.load(f)
        sys.path.insert(0, ROOT)
        import vstream_spark  # noqa: F401
    except (OSError, ImportError, ValueError) as e:
        print(f"perfbench: cannot start: {e!r} (run from the root of a checkout)",
              file=sys.stderr)
        return 2

    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": cores, "source": _source_hash()}
    try:
        res = run_workload(a.workload, a.seed, a.seconds, bool(a.trace), cores,
                           os.path.join(work, "main"), t_start)
        if a.trace and a.workload == "stream_segments":
            # single-core baseline leg, shorter and with one set-up: per-layer
            # counts and times only
            _stop_spark()
            one = run_workload(a.workload, a.seed, a.seconds / 2, True, 1,
                               os.path.join(work, "single"), time.time() * 1000.0, 1)
            for k in SINGLE_CORE:
                res.layers[f"st1.{k}"] = one.layers.get(k, 0.0)
            report["single_core"] = one.info
        elif a.trace and a.workload == "stream_stateful":
            # the dedup leg, on the same session: the engine's non-vector
            # operators, per layer
            dd = run_workload("dedup_docs", a.seed, a.seconds / 2, True, cores,
                              os.path.join(work, "dedup"), time.time() * 1000.0)
            res.layers.update({k: v for k, v in dd.layers.items()
                               if k.startswith("dedup.") or k == "self.dedup_ms"})
            res.attempted += dd.attempted
            res.failed += dd.failed
            res.violations += dd.violations
            report["dedup_leg"] = dd.info
    except Exception:  # noqa: BLE001 - reported, no result line
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_spark()
        finally:
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)
            if os.path.isdir(base) and not os.listdir(base):
                os.rmdir(base)

    from workloads import DATA_EPS, DELETE_SHARE, QUERY_QPS, STREAMS

    report["offered"] = {"data_eps": DATA_EPS, "query_qps": QUERY_QPS,
                         "delete_share": DELETE_SHARE,
                         "trigger_s": STREAMS[a.workload]["trigger_s"]}
    e2e = {m["name"]: m["unit"] for m in decl["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in decl["per_layer"]}
    report.update(res.info)
    report["failed_frac"] = res.failed / max(1, res.attempted)
    report["end_to_end"] = {k: res.e2e.get(k) for k in e2e}
    if a.trace:
        report["per_layer"] = {k: res.layers.get(k, 0.0) for k in layers}
    print(json.dumps(report, sort_keys=True))

    chosen = layers if a.trace else e2e
    source = res.layers if a.trace else res.e2e
    metrics = {k: {"value": float(source.get(k) or 0.0), "unit": u} for k, u in chosen.items()}
    correct = res.violations == 0 and res.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0 if res.violations == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
