"""Read Spark's job, stage and SQL status stores after a run.

Everything here runs after the timed region. The stores are reached
through py4j: ``SparkContext.statusStore()`` for jobs and stages and the
session's ``SQLAppStatusStore`` for per-operator SQL metrics. SQL metric
values come back as the formatted strings the UI shows, for example
``"total (min, med, max (stageId: taskId))\\n73 ms (10 ms, 21 ms, 24 ms
(stage 13.0: task 11))"``; :func:`parse_metric` takes the total.
"""

from __future__ import annotations

import re

_TIME = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric: milliseconds for timings, bytes
    for sizes, the plain number otherwise. The summary header line, if
    present, is skipped; the per-task ``(min, med, max ...)`` tail is
    dropped."""
    if not text:
        return 0.0
    lines = [ln for ln in str(text).strip().splitlines() if ln.strip()]
    line = lines[-1] if lines else ""
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME:
        return value * _TIME[unit]
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value


def _opt(o):
    """Scala Option -> Python value (None when empty)."""
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> int | None:
    d = _opt(date_opt)
    return None if d is None else int(d.getTime())


def _seq(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _map(jvm, m) -> dict:
    return dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(m))


def collect(spark, t_lo_ms: int, t_hi_ms: int) -> dict:
    """Jobs, their stages, and SQL executions submitted in ``[t_lo_ms,
    t_hi_ms]`` (epoch ms). Returns plain dicts:

    - ``jobs``: id, group, submit/complete ms, stage ids
    - ``stages``: id -> submit/complete ms, tasks, run/cpu/gc time, bytes
    - ``sql``: id, submit ms, job ids, and ``nodes`` = list of
      ``(node name, metric name, parsed total)``
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(jvm, store.jobsList(None)):
        sub = _ms(j.submissionTime())
        if sub is None or not (t_lo_ms <= sub <= t_hi_ms):
            continue
        jobs.append(
            {
                "id": int(j.jobId()),
                "group": _opt(j.jobGroup()),
                "submit": sub,
                "complete": _ms(j.completionTime()) or sub,
                "stages": [int(s) for s in _seq(jvm, j.stageIds())],
            }
        )
    stages = {}
    for job in jobs:
        for sid in job["stages"]:
            if sid in stages:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            sub = _ms(s.submissionTime())
            if sub is None:
                continue  # skipped stage: it never ran
            stages[sid] = {
                "submit": sub,
                "complete": _ms(s.completionTime()) or sub,
                "tasks": int(s.numCompleteTasks()),
                "run_ms": float(s.executorRunTime()),
                "cpu_ms": float(s.executorCpuTime()) / 1e6,
                "gc_ms": float(s.jvmGcTime()),
                "shuffle_write_bytes": float(s.shuffleWriteBytes()),
                "shuffle_read_bytes": float(s.shuffleReadBytes()),
                "fetch_wait_ms": float(s.shuffleFetchWaitTime()),
            }
    sql = []
    sql_store = spark._jsparkSession.sharedState().statusStore()
    for e in _seq(jvm, sql_store.executionsList()):
        sub = int(e.submissionTime())
        if not (t_lo_ms <= sub <= t_hi_ms):
            continue
        eid = int(e.executionId())
        values = {int(k): v for k, v in _map(jvm, sql_store.executionMetrics(eid)).items()}
        nodes = []
        for node in _seq(jvm, sql_store.planGraph(eid).allNodes()):
            name = str(node.name())
            for m in _seq(jvm, node.metrics()):
                acc = int(m.accumulatorId())
                if acc in values:
                    nodes.append((name, str(m.name()), parse_metric(values[acc])))
        sql.append(
            {
                "id": eid,
                "submit": sub,
                "jobs": sorted(int(k) for k in _map(jvm, e.jobs()).keys()),
                "nodes": nodes,
            }
        )
    return {"jobs": jobs, "stages": stages, "sql": sql}


def busy_union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# SQL metric names (as this PySpark's plan nodes print them) summed into
# the runtime-level counters
SQL_TOTALS = {
    "spark.scan_ms": ("scan time",),
    "spark.python_run_ms": ("time to run Python workers",),
    "spark.python_bytes_sent": ("data sent to Python workers",),
    "spark.python_bytes_returned": ("data returned from Python workers",),
    "spark.broadcast_ms": ("time to broadcast",),
    "spark.collect_ms": ("time to collect",),
}


def sql_sum(executions: list[dict], metric: str, node_prefix: str | None = None) -> float:
    """Sum of one named SQL metric over executions, optionally only on
    plan nodes whose name starts with ``node_prefix``."""
    return sum(
        v
        for e in executions
        for node, name, v in e["nodes"]
        if name == metric and (node_prefix is None or node.startswith(node_prefix))
    )
