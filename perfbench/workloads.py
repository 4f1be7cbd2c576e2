"""The benchmark's workloads, driven only through the engine's public API.

``stream_segments``  open loop; mixed insert/delete/query stream through
                     StreamingVectorIngest + StreamingVectorQuery on one
                     SegmentStore (the engine's default segment path)
``stream_stateful``  open loop; the same generator as one unified element
                     stream, routed by a fitted partitioner into
                     stateful_vector_search, merged by topk per batch
``dedup_docs``       closed loop; near-duplicate corpora drained through
                     streaming_set_similarity, then labelled by
                     dedup_components (a leg of the traced stream_stateful
                     run, not a workload of its own)

Each workload returns a :class:`Result`: end-to-end numbers, the per-layer
numbers of a traced run, counts of attempted and failed operations, and
notes about the run. Correctness checks run after the timed region.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import data
import gen
import status
from spans import Tracer, now_ms

# Offered load of both open-loop workloads: a rate the engine sustains on a
# 4-core box at this commit with room to spare (at 100 + 100 the stateful
# path ran close to capacity and its latency swung from run to run).
# Deletes are 0.1 of data events and target earlier inserts; the query
# share is raised from the reference's 95:1 to 1:1 so a run holds enough
# queries.
DATA_EPS = 50
QUERY_QPS = 50
DELETE_SHARE = 0.1
# Per workload: the generator's file layout; the ``prefill`` vectors loaded
# during set-up: one segment on the segment path (HNSW recall at
# efSearch=16 falls off above a few hundred points per segment, and
# seed-to-seed recall with it), and the rows the partitioner is fitted on
# for the stateful path; and the processing-time trigger interval of the
# drain loop, a little above one drain cycle early in the run at this
# commit (segment-path cycles lengthen as segments accumulate). Without an
# interval every run finds its own cycle boundaries, and latency, which
# then mostly measures the longest last cycles, swings by a quarter between
# runs of the same seed.
STREAMS = {
    "stream_segments": dict(layout="split", prefill=500, trigger_s=5.0),
    "stream_stateful": dict(layout="unified", prefill=1000, trigger_s=2.5),
}
TICK_MS = 100
SETUPS = 3  # set-ups per run: setup_s is their median, the last one is timed
WARM_QUERIES = 50
WARM_QID_BASE = 1 << 40
RECALL_SAMPLE = 1000
GRACE_S = 90  # cap on draining the tail after the schedule ends

DATA_SCHEMA = "id bigint, emb array<float>, event_time bigint, ttl bigint, op string, due_ms bigint"
QUERY_SCHEMA = "qid bigint, emb array<float>, event_time bigint, ttl bigint, due_ms bigint"
UNIFIED_SCHEMA = "op string, id bigint, emb array<float>, event_time bigint, ttl bigint, due_ms bigint"

DEDUP_DOCS = 300  # documents per round
DEDUP_FILES = 2  # files (= micro-batches) per round
DEDUP_MIN_ROUNDS = 2
WARM_ROUND = 999


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)  # name -> value
    layers: dict = field(default_factory=dict)  # name -> value (traced run)
    attempted: int = 0
    failed: int = 0
    violations: int = 0  # strict-check failures (part of ``failed``)
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    t_start: float  # epoch ms the process started
    rss: object  # RssSampler
    setups: int = SETUPS
    phases: dict = field(default_factory=dict)  # set-up step -> s since t_start

    def mark(self, phase: str) -> None:
        self.phases[phase] = round((now_ms() - self.t_start) / 1000.0, 3)


def _median(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def _progress(handle) -> list[dict]:
    return [json.loads(p.json) for p in handle.recentProgress]


def _drain(ctx: Ctx, name: str, layer: str, tag: str, start_fn) -> dict:
    """One availableNow drain: start() and wait for it to finish."""
    with ctx.tracer.span(name, layer, tag):
        t_call = now_ms()
        handle = start_fn()
        error = None
        try:
            handle.awaitTermination()
        except Exception as e:  # noqa: BLE001 - counted as failed operations
            error = repr(e)
        t_end = now_ms()
    batches = checks.batch_commits(_progress(handle))
    for b in batches.values():
        b["call"] = t_call
    return {"tag": tag, "call": t_call, "end": t_end, "batches": batches, "error": error}


def _set_up(ctx: Ctx, res: Result, build) -> object:
    """Run ``build(k)`` ``ctx.setups`` times, each on fresh engine objects
    and directories, and keep the last one for the timed region. The first
    pays the JVM's first-call work; ``setup_s`` is the median duration."""
    took, out = [], None
    for k in range(ctx.setups):
        t = now_ms()
        out = build(k)
        took.append((now_ms() - t) / 1000.0)
        ctx.mark(f"setup_{k}")
    res.e2e["setup_s"] = _median(took)
    res.info["setups_s"] = took
    return out


# -- open-loop streams -----------------------------------------------------------


class _Generator:
    """The separate generator process of one stream run."""

    def __init__(self, ctx: Ctx, src: str, rates: dict):
        self.go = os.path.join(ctx.work, "go")
        self.report = os.path.join(ctx.work, "gen.json")
        args = {
            "--out": src, "--layout": rates["layout"], "--seed": ctx.seed,
            "--seconds": ctx.seconds, "--data-eps": DATA_EPS,
            "--query-qps": QUERY_QPS, "--delete-share": DELETE_SHARE,
            "--tick-ms": TICK_MS, "--prefill": rates["prefill"], "--go": self.go,
            "--report": self.report,
        }
        cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py")]
        for k, v in args.items():
            cmd += [k, str(v)]
        self.proc = subprocess.Popen(cmd)

    def wait_ready(self) -> None:
        while not os.path.exists(self.report + ".ready"):
            if self.proc.poll() is not None:
                raise RuntimeError(f"generator exited early ({self.proc.returncode})")
            time.sleep(0.01)

    def start(self) -> int:
        t0 = int(now_ms()) + 200
        with open(self.go + ".tmp", "w") as f:
            f.write(str(t0))
        os.replace(self.go + ".tmp", self.go)
        return t0

    def finish(self) -> dict:
        if self.proc.wait(timeout=60) != 0:
            raise RuntimeError(f"generator failed ({self.proc.returncode})")
        with open(self.report) as f:
            return json.load(f)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def _open_loop(ctx: Ctx, gen_proc: _Generator, cycle, last_file: str,
               trigger_s: float) -> tuple[int, list]:
    """Run ``cycle(i)`` as a processing-time trigger would: every
    ``trigger_s`` from half a tick after the schedule starts, or at once
    when the previous cycle overran, until one has started after the last
    file landed (or the grace cap runs out). A cycle that overruns delays
    the next, and the events left waiting show in latency."""
    t0 = gen_proc.start()
    deadline = t0 + (ctx.seconds + GRACE_S) * 1000.0
    out, i = [], 0
    while True:
        time.sleep(max(0.0, (t0 + TICK_MS / 2 + i * trigger_s * 1000.0) / 1000.0 - time.time()))
        drained = os.path.exists(last_file)
        out.append(cycle(i))
        i += 1
        if drained or now_ms() > deadline:
            break
    return t0, out


def _ingest_batches(checkpoint: str, batches: dict, ticks: list) -> tuple[dict, list]:
    """Which micro-batch applied each generator tick (from the stream's
    source log), and (drain call, commit, data rows) per timed batch: an
    availableNow drain fixes the files it takes when it is started."""
    tick_batch = {int(f[1:7]): b for f, b in checks.source_batches(checkpoint).items()
                  if f.startswith("t")}
    rows: dict[int, int] = {}
    for j, b in tick_batch.items():
        rows[b] = rows.get(b, 0) + len(ticks[j]["ins"]) + len(ticks[j]["dels"])
    return tick_batch, [(batches[b]["call"], batches[b]["commit"], n)
                        for b, n in rows.items() if b in batches]


def _stream_common(res: Result, plan: dict, t0: int, rep: dict, ingests: list,
                   answered: dict, snapshot_of, seconds: float) -> None:
    """Latency, throughput, correctness and recall shared by both stream
    workloads.

    ``ingests``: (drain call, commit, rows) of every timed data batch.
    ``answered``: qid -> (commit ms, returned ids, snapshot key).
    ``snapshot_of(key)``: the live data ids the query saw.
    """
    ticks = plan["ticks"]
    due = {int(q): t0 + int(t["offset_ms"]) for t in ticks for q in t["qids"]}
    n_data = sum(len(t["ins"]) + len(t["dels"]) for t in ticks)
    lat, bad = [], 0
    by_commit: dict[float, list[float]] = {}
    live_cache: dict = {}
    for qid, (commit, ids, key) in answered.items():
        lat.append(commit - due[qid])
        by_commit.setdefault(commit, []).append(lat[-1])
        if key not in live_cache:
            live_cache[key] = snapshot_of(key)
        live = live_cache[key]
        if len(ids) != min(data.K, len(live)) or not np.isin(ids, live).all():
            bad += 1
    unanswered = len(due) - len(answered)
    applied = sum(r for _, _, r in ingests)
    res.attempted = len(due) + n_data
    res.violations = bad
    res.failed = unanswered + bad + max(0, n_data - applied)

    rng = np.random.default_rng([0, len(answered)])
    sample = rng.choice(sorted(answered), size=min(RECALL_SAMPLE, len(answered)), replace=False)
    hits = []
    for qid in sample:
        _, ids, key = answered[int(qid)]
        exact = checks.exact_topk(plan["emb"], live_cache[key], plan["q_emb"][int(qid)], data.K)
        hits.append(len(set(ids.tolist()) & set(exact.tolist())) / max(1, len(exact)))

    # the rate the stream took events in while the schedule ran: events
    # taken by the data drains started before it ended, over the time from
    # its start to the last of those drains
    sched_end = t0 + seconds * 1000.0
    inside = [(s, r) for s, _, r in ingests if s <= sched_end]
    last_take = max(s for s, _ in inside)
    rate = sum(r for _, r in inside) / ((last_take - t0) / 1000.0)
    applied_by_end = sum(r for s, c, r in ingests if c <= sched_end)
    late = rep["late_ms"]
    res.e2e.update(
        latency_p50_ms=checks.pct(lat, 50),
        # per commit, the wait of the oldest query it answered (due just
        # after the previous query drain took its files): a tail figure
        # that rests on every commit of the run, not on the last few
        latency_oldest_ms=_median([max(v) for v in by_commit.values()]),
        applied_eps=rate,
        recall_at10=float(np.mean(hits)) if hits else 0.0,
    )
    res.layers.update(
        {
            "gen.late_p99_ms": checks.pct(late, 99),
            "gen.backlog_end": float(n_data - applied_by_end),
        }
    )
    res.info.update(
        queries=len(due), answered=len(answered), latency_queries=len(lat),
        latency_commits=len(by_commit), latency_p99_ms=checks.pct(lat, 99),
        data_events=n_data, applied=applied, unanswered=unanswered,
        strict_violations=bad, recall_sample=len(hits),
        gen_late_p50_ms=checks.pct(late, 50), gen_late_p99_ms=checks.pct(late, 99),
        gen_ticks=len(late),
    )


def stream_segments(ctx: Ctx, master_cores: int) -> Result:
    from vstream_spark.config import VectorIndexConf
    from vstream_spark.storage.search import SegmentSearcher
    from vstream_spark.storage.segments import SegmentStore
    from vstream_spark.streaming.pipeline import StreamingVectorIngest, StreamingVectorQuery

    spark, tr = ctx.spark, ctx.tracer
    rates = STREAMS["stream_segments"]
    plan = data.stream_plan(ctx.seed, ctx.seconds, DATA_EPS, QUERY_QPS, DELETE_SHARE,
                            TICK_MS, rates["prefill"])
    conf = VectorIndexConf()  # the reference's M=16, efC=128, efS=16, k=10
    res = Result()

    def build(k):
        base = os.path.join(ctx.work, f"setup-{k}")
        src = os.path.join(base, "src")
        for d in ("data", "queries"):
            os.makedirs(os.path.join(src, d))
        pre = np.arange(rates["prefill"], dtype=np.int64)
        gen.write_atomic(gen.data_table(pre, ["I"] * len(pre), plan["emb"][pre], 0, 0),
                         os.path.join(src, "data", "prefill.parquet"))
        wq = WARM_QID_BASE + np.arange(WARM_QUERIES, dtype=np.int64)
        gen.write_atomic(gen.query_table(wq, data.warmup_queries(ctx.seed, WARM_QUERIES), 0, 0),
                         os.path.join(src, "queries", "warmup.parquet"))
        store = SegmentStore(spark, os.path.join(base, "store"), dim=data.DIM)
        s = dict(
            src=src, store=store, out_dir=os.path.join(base, "out"),
            ing=StreamingVectorIngest(store, conf),
            dstream=spark.readStream.schema(DATA_SCHEMA).parquet(os.path.join(src, "data")),
            qstream=spark.readStream.schema(QUERY_SCHEMA).parquet(os.path.join(src, "queries")),
            ck_i=os.path.join(base, "ck_ingest"), ck_q=os.path.join(base, "ck_query"),
        )
        s["svq"] = StreamingVectorQuery(store, s["out_dir"], conf, k=data.K, restore_state=True)
        ingest(s, "warmup")
        query(s, "warmup")
        return s

    def ingest(s, tag):
        return _drain(ctx, "pipeline.ingest_drain", "pipeline", tag,
                      lambda: s["ing"].start(s["dstream"], s["ck_i"]))

    def query(s, tag):
        return _drain(ctx, "pipeline.query_drain", "pipeline", tag,
                      lambda: s["svq"].start(s["qstream"], s["ck_q"]))

    gen_proc = _Generator(ctx, os.path.join(ctx.work, f"setup-{ctx.setups - 1}", "src"), rates)
    try:
        s = _set_up(ctx, res, build)
        store, svq = s["store"], s["svq"]
        gen_proc.wait_ready()

        if tr.enabled:
            tr.wrap(store, "append_batch", "segments.append", "segments")
            tr.wrap(store, "build_segment_indexes", "segments.index_build", "segments")
            tr.wrap(store, "segments", "segments.manifest", "segments")
            # the searcher is built inside StreamingVectorQuery: trace its class
            tr.wrap(SegmentSearcher, "search", "search.call", "search")
            tr.wrap(SegmentSearcher, "load_state", "search.state_io", "search")
            tr.wrap(SegmentSearcher, "save_state", "search.state_io", "search")
        versions = {}

        def cycle(i):
            di = ingest(s, f"cycle-{i}")
            versions[i] = store.manifest.version()  # the snapshot the query drain sees
            dq = query(s, f"cycle-{i}")
            return di, dq

        tr.reset()
        t_lo = now_ms()
        try:
            with tr.span("bench.run", "bench", "run"):
                t0, cycles = _open_loop(ctx, gen_proc, cycle,
                                        os.path.join(s["src"], "queries", plan["last_file"]),
                                        rates["trigger_s"])
        finally:
            tr.restore()
        t_hi = now_ms()
        ctx.rss.stop()
        rep = gen_proc.finish()
    finally:
        gen_proc.kill()

    # -- untimed: outputs against the snapshots they were computed on ------------
    i_batch, q_batch = {}, {}
    errors = 0
    for i, (di, dq) in enumerate(cycles):
        errors += bool(di["error"]) + bool(dq["error"])
        i_batch.update(di["batches"])
        for bid, b in dq["batches"].items():
            q_batch[bid] = (b["commit"], i)
    _, ingests = _ingest_batches(s["ck_i"], i_batch, plan["ticks"])
    out = pq.read_table(s["out_dir"], columns=["qid", "neighbor_id", "batch_id"]).to_pandas()
    out = out[out["qid"] < WARM_QID_BASE]
    answered = {}
    for (qid, bid), g in out.groupby(["qid", "batch_id"]):
        if int(bid) in q_batch:
            commit, i = q_batch[int(bid)]
            answered[int(qid)] = (commit, g["neighbor_id"].to_numpy(np.int64), i)

    seg_rows: dict[str, tuple] = {}

    def snapshot_of(i):
        parts = []
        for seg in store.segments(as_of=versions[i]):
            if seg["path"] not in seg_rows:
                t = pq.read_table(seg["path"], columns=["id", "op", "event_time"])
                seg_rows[seg["path"]] = (t["id"].to_numpy(),
                                         t["op"].to_numpy(zero_copy_only=False),
                                         t["event_time"].to_numpy())
            parts.append(seg_rows[seg["path"]])
        ids, ops, ets = (np.concatenate(c) for c in zip(*parts))
        return checks.live_ids(ids, ops, ets)

    _stream_common(res, plan, t0, rep, ingests, answered, snapshot_of, ctx.seconds)
    res.failed += errors
    live_end = len(store.segments())
    res.info.update(cycles=len(cycles), segments_end=live_end, drain_errors=errors,
                    cores=master_cores,
                    cycle_ms=[(round(di["end"] - di["call"]), round(dq["end"] - dq["call"]),
                               len(di["batches"]), len(dq["batches"])) for di, dq in cycles])
    if tr.enabled:
        # segments each timed query batch visited vs. those live in its snapshot
        drain_of = {bid: i for bid, (_, i) in q_batch.items()}
        visits = [(b["searched_segments"], len(store.segments(as_of=versions[drain_of[b["batch_id"]]])))
                  for b in svq.batch_stats if b["batch_id"] in drain_of]
        _segment_layers(ctx, res, cycles, t_lo, t_hi, live_end, visits)
    return res


def stream_stateful(ctx: Ctx, master_cores: int) -> Result:
    from pyspark.sql import functions as F

    from vstream_spark.config import PartitionerConf, VectorIndexConf
    from vstream_spark.operators.knn import topk
    from vstream_spark.partitioners.dispatch import balance_factor, fit_partitioner
    from vstream_spark.streaming.stateful import stateful_vector_search

    spark, tr = ctx.spark, ctx.tracer
    rates = STREAMS["stream_stateful"]
    plan = data.stream_plan(ctx.seed, ctx.seconds, DATA_EPS, QUERY_QPS, DELETE_SHARE,
                            TICK_MS, rates["prefill"])
    pre = np.arange(rates["prefill"], dtype=np.int64)
    wq = WARM_QID_BASE + np.arange(WARM_QUERIES, dtype=np.int64)
    prefill = gen.data_table(
        np.concatenate([pre, wq]), ["I"] * len(pre) + ["Q"] * WARM_QUERIES,
        np.concatenate([plan["emb"][pre], data.warmup_queries(ctx.seed, WARM_QUERIES)]), 0, 0,
    ).select(["op", "id", "emb", "event_time", "ttl", "due_ms"])
    # the partitioner's own seed is fixed: the engine sees the workload seed
    # only through the files
    pconf = PartitionerConf(kind="kmeans", num_partitions=master_cores, query_fanout=2)
    cols = ["partition_id", "op", "id", "emb", "event_time", "ttl"]
    res = Result()

    def build(k):
        base = os.path.join(ctx.work, f"setup-{k}")
        src = os.path.join(base, "src")
        os.makedirs(os.path.join(src, "events"))
        gen.write_atomic(prefill, os.path.join(src, "events", "prefill.parquet"))
        fit_src = os.path.join(base, "fit.parquet")
        gen.write_atomic(prefill.filter(np.asarray(prefill["op"].to_numpy(zero_copy_only=False)) == "I"),
                         fit_src)
        # the partitioner learns its centroids from the prefill
        part = fit_partitioner(pconf, spark.read.parquet(fit_src))
        stream = spark.readStream.schema(UNIFIED_SCHEMA).parquet(os.path.join(src, "events"))
        routed = part.partition_data(stream.filter("op != 'Q'")).select(*cols).unionByName(
            part.partition_queries(stream.filter("op = 'Q'")).select(*cols)
        )
        partials = stateful_vector_search(routed, VectorIndexConf(), k=data.K)
        out_dir = os.path.join(base, "out")

        def merge(batch_df, batch_id):
            # materialize the per-partition partials first so the stateful
            # operator's work and the global merge are timed apart
            with tr.span("stateful.apply", "stateful"):
                batch_df.persist()
                batch_df.count()
            with tr.span("knn.merge", "knn"):
                (topk(batch_df, data.K, dedup=part.merge_needs_dedup)
                 .select("qid", "neighbor_id", "distance", "rank",
                         F.lit(int(batch_id)).alias("batch_id"))
                 .write.mode("append").parquet(out_dir))
            batch_df.unpersist()

        s = dict(src=src, part=part, partials=partials, merge=merge, out_dir=out_dir,
                 ck=os.path.join(base, "ck"))
        drain(s, "warmup")
        return s

    def drain(s, tag):
        return _drain(ctx, "stateful.drain", "stateful", tag,
                      lambda: s["partials"].writeStream.foreachBatch(s["merge"])
                      .option("checkpointLocation", s["ck"])
                      .trigger(availableNow=True).start())

    gen_proc = _Generator(ctx, os.path.join(ctx.work, f"setup-{ctx.setups - 1}", "src"), rates)
    try:
        s = _set_up(ctx, res, build)
        gen_proc.wait_ready()
        tr.reset()
        t_lo = now_ms()
        with tr.span("bench.run", "bench", "run"):
            t0, cycles = _open_loop(ctx, gen_proc, lambda i: drain(s, f"cycle-{i}"),
                                    os.path.join(s["src"], "events", plan["last_file"]),
                                    rates["trigger_s"])
        t_hi = now_ms()
        ctx.rss.stop()
        rep = gen_proc.finish()
    finally:
        gen_proc.kill()

    batches = {}
    errors = 0
    for d in cycles:
        errors += bool(d["error"])
        batches.update(d["batches"])
    tick_batch, ingests = _ingest_batches(s["ck"], batches, plan["ticks"])
    ticks = plan["ticks"]
    out = pq.read_table(s["out_dir"], columns=["qid", "neighbor_id", "batch_id"]).to_pandas()
    out = out[out["qid"] < WARM_QID_BASE]
    answered = {}
    for (qid, bid), g in out.groupby(["qid", "batch_id"]):
        if int(bid) in batches:
            answered[int(qid)] = (batches[int(bid)]["commit"],
                                  g["neighbor_id"].to_numpy(np.int64), int(bid))

    def snapshot_of(b):
        ins = [pre]
        dels = []
        for j, tb in tick_batch.items():
            if tb <= b:
                ins.append(ticks[j]["ins"])
                dels.append(ticks[j]["dels"])
        return np.setdiff1d(np.concatenate(ins), np.concatenate(dels) if dels else [])

    _stream_common(res, plan, t0, rep, ingests, answered, snapshot_of, ctx.seconds)
    res.failed += errors
    res.info.update(batches=len(batches), drain_errors=errors, cores=master_cores,
                    cycle_ms=[round(d["end"] - d["call"]) for d in cycles])
    if tr.enabled:
        timed = list(batches.values())
        ops = [op for b in timed for op in b["progress"].get("stateOperators", [])]
        res.layers.update(
            {
                "stateful.trigger_ms": _median([b["trigger_ms"] for b in timed]),
                "stateful.apply_ms": _median(tr.durations("stateful.apply")),
                "stateful.state_update_ms": _median([o.get("allUpdatesTimeMs", 0) for o in ops]),
                "stateful.state_commit_ms": _median([o.get("commitTimeMs", 0) for o in ops]),
                "stateful.state_bytes_end": float(ops[-1].get("memoryUsedBytes", 0)) if ops else 0.0,
                "knn.merge_ms": _median(tr.durations("knn.merge")),
                "pipeline.batches": float(len(timed)),
            }
        )
        # inside foreachBatch the stateful operator runs under an RDD scan, so
        # the SQL store has no node metrics for it: take its stages' executor
        # time and the shuffled rows handed to the state function instead
        st = _collect(ctx, t_lo, t_hi, res)
        res.layers["stateful.task_run_ms"] = _median(
            _stage_sum_by_span(st, tr, "stateful.apply", "run_ms"))
        res.layers["stateful.input_bytes"] = _median(
            _stage_sum_by_span(st, tr, "stateful.apply", "shuffle_read_bytes"))
        # routing quality, measured with the fitted partitioner on all data
        # and query rows of the run (untimed)
        part = s["part"]
        ev = spark.read.parquet(os.path.join(s["src"], "events"))
        res.layers["partitioners.skew"] = balance_factor(part.partition_data(ev.filter("op != 'Q'")))
        fan = part.partition_queries(ev.filter("op = 'Q'")).agg(
            F.avg("num_partitions_sent")).collect()[0][0]
        res.layers["partitioners.query_fanout"] = float(fan or 0.0)
    return res


# -- closed-loop dedup -------------------------------------------------------------


def dedup_docs(ctx: Ctx, master_cores: int) -> Result:
    """Rounds of documents back to back for ``ctx.seconds`` (at least
    ``DEDUP_MIN_ROUNDS``), after one small warm-up round. Reports per-layer
    numbers only: it runs as a leg of a traced run, so ``ctx.tracer`` is
    enabled."""
    import pyarrow as pa

    from vstream_spark.operators.dedup import dedup_components
    from vstream_spark.streaming.pipeline import streaming_set_similarity

    spark, tr = ctx.spark, ctx.tracer

    def run_round(r: int, n_docs: int, files: int) -> dict:
        ids, texts, groups = data.corpus(ctx.seed, r, n_docs, id_base=r * 10_000_000)
        src = os.path.join(ctx.work, f"docs-{r}")
        os.makedirs(src)
        t_due = now_ms()
        per = -(-n_docs // files)
        for f in range(files):
            sl = slice(f * per, (f + 1) * per)
            gen.write_atomic(
                pa.table({"doc_id": pa.array(ids[sl], pa.int64()),
                          "text": pa.array(texts[sl], pa.string())}),
                os.path.join(src, f"part-{f:03d}.parquet"),
            )
        pairs_dir = os.path.join(ctx.work, f"pairs-{r}")
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        pairs = streaming_set_similarity(stream, ttl=None)
        d = _drain(ctx, "dedup.stream_drain", "dedup", f"round-{r}",
                   lambda: pairs.writeStream.format("parquet").option("path", pairs_dir)
                   .option("checkpointLocation", os.path.join(ctx.work, f"ck-{r}"))
                   .outputMode("append").trigger(availableNow=True).start())
        with tr.span("dedup.components", "dedup", f"round-{r}"):
            labels = (dedup_components(spark.read.parquet(src))
                      .select("doc_id", "component").toPandas())
        return {"ids": ids, "texts": texts, "groups": groups, "due": t_due, "done": now_ms(),
                "labels": labels, "pairs_dir": pairs_dir, "drain": d}

    run_round(WARM_ROUND, 100, DEDUP_FILES)  # warm-up: as many files, fewer docs
    ctx.mark("warm_round")
    res = Result()
    tr.reset()
    t_lo = now_ms()
    rounds = []
    with tr.span("bench.run", "bench", "run"):
        while len(rounds) < DEDUP_MIN_ROUNDS or now_ms() - t_lo < ctx.seconds * 1000.0:
            rounds.append(run_round(len(rounds), DEDUP_DOCS, DEDUP_FILES))
    t_hi = now_ms()
    ctx.rss.stop()

    bad, errors, recall_hit, recall_n, verified = 0, 0, 0, 0, []
    for rd in rounds:
        errors += bool(rd["drain"]["error"])
        pdf = pq.read_table(rd["pairs_dir"], columns=["doc_a", "doc_b"]).to_pandas()
        got = set(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))
        verified.append(len(got))
        expect = checks.components(list(got), rd["ids"])
        lab = dict(zip(rd["labels"]["doc_id"].tolist(), rd["labels"]["component"].tolist()))
        bad += sum(lab.get(i) != c for i, c in expect.items())
        # pair recall against exact shingle Jaccard inside planted clusters
        sh = [checks.shingles(t) for t in rd["texts"]]
        by_group: dict[int, list[int]] = {}
        for k, g in enumerate(rd["groups"].tolist()):
            if g >= 0:
                by_group.setdefault(g, []).append(k)
        for members in by_group.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    a, b = members[x], members[y]
                    if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5:
                        ia, ib = sorted((int(rd["ids"][a]), int(rd["ids"][b])))
                        recall_n += 1
                        recall_hit += (ia, ib) in got
    n_docs = sum(len(rd["ids"]) for rd in rounds)
    res.attempted = n_docs
    res.violations = bad
    res.failed = bad + errors * DEDUP_DOCS
    docs_per_s = n_docs / ((rounds[-1]["done"] - rounds[0]["due"]) / 1000.0)
    res.info.update(rounds=len(rounds), docs=n_docs, docs_per_s=docs_per_s,
                    round_ms=[round(rd["done"] - rd["due"]) for rd in rounds],
                    pair_recall=recall_hit / recall_n if recall_n else 0.0,
                    label_mismatches=bad, true_pairs=recall_n, drain_errors=errors,
                    cores=master_cores)
    st = _collect(ctx, t_lo, t_hi, res)
    att = tr.attribute(st["jobs"])
    comp_spans = {s["id"] for s in tr.closed() if s["name"] == "dedup.components"}
    jobs_per = {}
    for jid, sid in att.items():
        if sid in comp_spans:
            jobs_per[sid] = jobs_per.get(sid, 0) + 1
    cands = []
    for rd in rounds:
        window = [e for e in st["sql"]
                  if rd["drain"]["call"] <= e["submit"] <= rd["drain"]["end"]]
        cands.append(status.sql_sum(window, "number of output rows",
                                    "FlatMapGroupsInPandasWithState"))
    res.layers.update(
        {
            "dedup.docs_per_s": docs_per_s,
            "dedup.stream_drain_ms": _median(tr.durations("dedup.stream_drain")),
            "dedup.components_ms": _median(tr.durations("dedup.components")),
            "dedup.components_jobs": _median(list(jobs_per.values())),
            "dedup.candidates": _median(cands),
            "dedup.verified_ratio": (sum(verified) / sum(cands)) if sum(cands) else 0.0,
            "pipeline.batches": float(sum(len(rd["drain"]["batches"]) for rd in rounds)),
        }
    )
    return res


# -- traced-run attribution ----------------------------------------------------------


def _collect(ctx: Ctx, t_lo: float, t_hi: float, res: Result) -> dict:
    """Read the status stores for the traced window and fill the runtime
    and self-time metrics every workload reports."""
    sc = ctx.spark.sparkContext
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:  # noqa: BLE001 - fall back to letting the bus drain
        time.sleep(1.0)
    st = status.collect(ctx.spark, int(t_lo), int(t_hi))
    stages = st["stages"].values()
    wall = t_hi - t_lo
    busy = status.busy_union_ms(
        [(max(s["submit"], t_lo), min(s["complete"], t_hi)) for s in stages]
    )
    res.layers.update(
        {
            "spark.jobs": float(len(st["jobs"])),
            "spark.tasks": float(sum(s["tasks"] for s in stages)),
            "spark.task_run_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "spark.task_cpu_s": sum(s["cpu_ms"] for s in stages) / 1000.0,
            "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
            "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spark.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stages),
            "spark.driver_gap_s": (wall - busy) / 1000.0,
        }
    )
    for name, metrics in status.SQL_TOTALS.items():
        res.layers[name] = sum(status.sql_sum(st["sql"], m) for m in metrics)
    layers = ctx.tracer.self_ms_by_layer()
    for layer in SELF_LAYERS:
        res.layers[f"self.{layer}_ms"] = layers.get(layer, 0.0)
    covered = sum(v for k, v in layers.items() if k != "bench")
    res.layers["trace.wall_s"] = wall / 1000.0
    res.layers["trace.unattributed_frac"] = 1.0 - covered / wall if wall else 0.0
    res.layers["trace.overhead_frac"] = ctx.tracer.own_ms / wall if wall else 0.0
    res.layers["trace.spans"] = float(len(ctx.tracer.closed()))
    return st


SELF_LAYERS = ("bench", "pipeline", "segments", "search", "stateful", "knn", "dedup")


def _ancestor(spans: dict, span_id, name: str):
    """The nearest span named ``name`` at or above ``span_id`` (or None)."""
    while span_id is not None and spans[span_id]["name"] != name:
        span_id = spans[span_id]["parent"]
    return span_id


def _stage_sum_by_span(st: dict, tr: Tracer, name: str, key: str) -> list[float]:
    """For every span named ``name``: the sum of ``key`` over the stages of
    the jobs that ran under it (each stage counted once)."""
    spans = {s["id"]: s for s in tr.closed()}
    att = tr.attribute(st["jobs"])
    out = {sid: 0.0 for sid, s in spans.items() if s["name"] == name}
    seen: set[int] = set()
    for j in sorted(st["jobs"], key=lambda j: j["id"]):
        top = _ancestor(spans, att.get(j["id"]), name)
        for sid in j["stages"]:
            if top is not None and sid in st["stages"] and sid not in seen:
                out[top] += st["stages"][sid][key]
            seen.add(sid)
    return list(out.values())


def _segment_layers(ctx: Ctx, res: Result, cycles: list, t_lo: float, t_hi: float,
                    live_end: int, visits: list[tuple[int, int]]) -> None:
    tr = ctx.tracer
    st = _collect(ctx, t_lo, t_hi, res)
    att = tr.attribute(st["jobs"])
    spans = {s["id"]: s for s in tr.closed()}
    call_jobs = {s: 0 for s, v in spans.items() if v["name"] == "search.call"}
    for jid, sp in att.items():
        c = _ancestor(spans, sp, "search.call")
        if c is not None:
            call_jobs[c] += 1
    call_py = {c: 0.0 for c in call_jobs}
    for e in st["sql"]:
        c = next((_ancestor(spans, att[j], "search.call") for j in e["jobs"] if j in att), None)
        if c is not None:
            call_py[c] += status.sql_sum([e], "time to run Python workers")
    # state I/O per query batch: load_state + save_state inside one drain
    io_by_drain: dict[str, float] = {}
    for s in spans.values():
        if s["name"] == "search.state_io":
            io_by_drain[s["tag"]] = io_by_drain.get(s["tag"], 0.0) + s["end"] - s["start"]
    restarts = []
    for di, dq in cycles:
        for d in (di, dq):
            if d["batches"]:
                restarts.append(min(b["start"] for b in d["batches"].values()) - d["call"])
    res.layers.update(
        {
            "pipeline.ingest_drain_ms": _median(tr.durations("pipeline.ingest_drain")),
            "pipeline.query_drain_ms": _median(tr.durations("pipeline.query_drain")),
            "pipeline.restart_ms": _median(restarts),
            "pipeline.batches": float(sum(len(d["batches"]) for c in cycles for d in c)),
            "segments.append_ms": _median(tr.durations("segments.append")),
            "segments.index_build_ms": _median(tr.durations("segments.index_build")),
            "segments.manifest_ms": _median(tr.durations("segments.manifest")),
            "segments.live_end": float(live_end),
            "search.call_ms": _median(tr.durations("search.call")),
            "search.state_io_ms": _median(list(io_by_drain.values())),
            "search.segments_visited": float(np.mean([v for v, _ in visits])) if visits else 0.0,
            "search.terminated_frac": (float(np.mean([v < n for v, n in visits]))
                                       if visits else 0.0),
            "search.jobs_per_call": float(np.mean(list(call_jobs.values()))) if call_jobs else 0.0,
            # the index build is an RDD job: its Python worker time is the
            # executor run time of its stages
            "index.build_python_ms": _median(
                _stage_sum_by_span(st, tr, "segments.index_build", "run_ms")),
            "index.search_python_ms": _median(list(call_py.values())),
        }
    )
