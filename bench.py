"""Benchmark harness: runs the declared query inventory at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE COMPACT JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line is kept short (the driver records only a bounded stdout tail,
and r4's 117-entry per-query map overflowed it): ``queries`` holds only the
slowest few; the FULL per-query map is written to ``BENCH_DETAIL.json`` at the
repo root (committed, so per-query history lives in-repo).

Each query is timed end-to-end (plan + execute + sink) with a no-op-style
count() action after a warmup pass of the session (Spark startup excluded).

Session-age control: long-lived local sessions degrade late-suite timings
2-10x (broadcast/codegen/block-manager state accumulates; r4's bisect showed
no code regression behind the apparent +23% drift). The suite restarts the
SparkContext every $SPARK_GRAFT_BENCH_RESTART_EVERY queries (default 20) so
each query is timed against a comparably-fresh session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vstream_spark.queries import REGISTRY  # noqa: E402
from vstream_spark.session import get_spark  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


class _SkipDerived(Exception):
    """Sentinel for SPARK_GRAFT_BENCH_SKIP_DERIVED (a real Ctrl-C must abort
    the run, not be mislabeled as an intentional skip — ADVICE r6)."""


def bench_cpus() -> int:
    """The core count this bench run executes at (the ``local[N]`` width):
    $SPARK_GRAFT_CPUS when numeric, else the machine's cpu count. Recorded
    in BENCH_DETAIL.json and part of the ``is_official`` guard — the r14
    driver's 8-core scaling run overwrote the official 32-core detail and
    min-merged 8-core times into best_known because the guard checked only
    subset/skip/sf-dir (r14 VERDICT wrong-item #1)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    try:
        return int(raw)
    except ValueError:
        return os.cpu_count() or 1


def cpus_match_official(prev_cpus: int | None, cpus: int) -> bool:
    """A run is only official (may write BENCH_DETAIL.json / merge into
    best_known) when its core count matches the committed detail's. A
    detail written before the cpus field existed (prev None) accepts any
    run — the first post-upgrade official run stamps the reference."""
    return prev_cpus is None or int(prev_cpus) == int(cpus)


def queries_set_hash(names) -> str:
    """Order-independent short hash of the timed-query name set, carried on
    the stdout JSON so the driver can tell 'left the top-8 stdout sample'
    apart from 'dropped from the suite' (r14 PERF reported 34 phantom
    drops; VERDICT #2)."""
    import hashlib

    return hashlib.sha256(",".join(sorted(names)).encode()).hexdigest()[:12]


def is_latency_axis(axis: str) -> bool:
    """Derived axes are throughputs (higher = better) EXCEPT latency axes
    (suffix ``_latency_s``, lower = better) — best-known merges and the
    degradation trigger must invert for them."""
    return axis.endswith("_latency_s")


def merge_best_known_axis(axis: str, *values: float) -> float:
    """Cross-round best-known for one derived axis: max for throughputs,
    min for latency axes."""
    return min(values) if is_latency_axis(axis) else max(values)


def degraded_derived_axes(
    derived: dict, prev_derived: dict, ratio: float
) -> list[str]:
    """Axes that regressed more than ``ratio`` vs their best-known committed
    value — the trigger for the fresh-session re-measure and (r13 VERDICT
    #4, when still degraded after it) the prior-commit drift control. For a
    throughput axis the regression is best_known > ratio * now; for a
    latency axis, now > ratio * best_known."""
    out = []
    for a, v in derived.items():
        if a not in prev_derived or v <= 0 or prev_derived[a] <= 0:
            continue
        if is_latency_axis(a):
            if v > ratio * prev_derived[a]:
                out.append(a)
        elif prev_derived[a] > ratio * v:
            out.append(a)
    return out


def suite_mover_queries(
    timings: dict, prev_q: dict, ratio: float = 1.25, top: int = 3
) -> list[tuple[str, float]]:
    """Per-query timings that slowed more than ``ratio`` vs the previous
    committed round, worst-first, capped at ``top`` — the drift-control
    re-measure set."""
    movers = sorted(
        (
            (q, round(timings[q] / prev_q[q], 3))
            for q in timings
            if q in prev_q and prev_q[q] > 0
        ),
        key=lambda kv: -kv[1],
    )
    return [(q, r) for q, r in movers if r > ratio][:top]

# The headline workload: every declared query (vector + relational + LLM ops).
# The two recall-gate meta-queries are correctness machinery (each one re-runs
# a dozen ANN dataflows + the exact oracle) — excluded so the suite number
# stays a workload measurement, not a harness measurement.
BENCH_QUERIES = [
    q
    for q in REGISTRY
    if q
    not in (
        "knn_partitioner_recall",
        "partition_balance_gate",
        "knn_index_recall",
        "similarity_join_lsh_recall",
        "knn_streaming_ann_recall",
        "knn_epoch_stream_recall",
        "knn_epoch_batch_recall",
        "emb_pca_gate",
        "knn_mmr_gate",
        "knn_filtered_route_gate",
        "knn_filtered_store_gate",
        "knn_inindex_filter_gate",
        "knn_streaming_filtered_gate",
        "text_bpe_gate",
    )
]


def _fresh_session(sf_dir: str):
    """Start (or restart) the bench session and re-run the warmup reads."""
    spark = get_spark("vstream-bench")
    # warmup: JVM + parquet footer caches, excluded from timings
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # flush-time index construction is ingest-path work (the reference builds
    # each SST's graph at memtable flush, hnsw_table_builder.cc) — build the
    # declared-query segment store once here so the timed loop measures the
    # SEARCH path (load-from-sidecar), mirroring insert/query cost separation.
    # The store's segments live on disk, so after a session restart this is a
    # cheap re-attach, not a rebuild.
    try:
        from vstream_spark.queries import _hnsw_store

        _hnsw_store(spark, sf_dir)
    except Exception as e:  # noqa: BLE001
        print(f"# hnsw store warmup failed: {e}", file=sys.stderr)
    return spark


def resolve_sf_dir(sf_dir: str) -> str:
    """Absolutize the bench data dir and re-export it. Both drift controls
    re-run bench.py in a PRIOR-COMMIT WORKTREE (different cwd) with the
    inherited environment, so a relative ``SPARK_GRAFT_SF_DIR`` (the sf1
    lane scripts pass ``.localdata/sf1``) made the child bench die on a
    missing path — the exact ``CalledProcessError`` recorded in the r14
    sf1 lane's ``drift_control`` block. Resolving once here and writing
    the absolute path back into the env fixes every downstream consumer
    (children inherit the resolved path)."""
    sf_dir = os.path.realpath(sf_dir)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    return sf_dir


def main() -> None:
    sf_dir = resolve_sf_dir(os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    spark = _fresh_session(sf_dir)

    # best-of-N timing: per-query minimum over repeats attributes env noise
    # (the r1->r3 +31% drift was unattributable from single-shot runs)
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    restart_every = int(os.environ.get("SPARK_GRAFT_BENCH_RESTART_EVERY", "20"))
    # iteration knobs (default-off; the official run uses the full suite):
    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to a subset,
    # SPARK_GRAFT_BENCH_SKIP_DERIVED=1 skips the insert/query axes
    bench_queries = BENCH_QUERIES
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        bench_queries = [q for q in only.split(",") if q in REGISTRY]
    skip_derived = os.environ.get("SPARK_GRAFT_BENCH_SKIP_DERIVED") == "1"
    repo_dir = os.path.dirname(os.path.abspath(__file__))

    # Canary preamble (r14 VERDICT #9): two cheap CPU-bound anchors timed
    # BEFORE the long suite and compared to the committed best_known, so a
    # degraded machine window (CPU steal — the pinned r14 noise source) is
    # visible before 40 minutes are spent recording vintage. Advisory only:
    # it prints and is committed in the detail; it never gates the run.
    canary: dict[str, float] = {}
    if not only:
        canary_ref: dict[str, float] = {}
        try:
            with open(os.path.join(repo_dir, "BENCH_DETAIL.json")) as f:
                _doc = json.load(f)
            if str(_doc.get("sf")) == str(sf_val):
                # prefer the prior run's own canary samples (cold-vs-cold,
                # like-for-like); best_known (warm best-of-3) only as the
                # first-run fallback, where the threshold over-fires — the
                # flag is advisory either way
                canary_ref = _doc.get("canary") or _doc.get("best_known", {})
        except (OSError, ValueError):
            pass
        for name in ("knn_exact_l2", "similarity_join_exact"):
            if name not in REGISTRY:
                continue
            t0 = time.perf_counter()
            try:
                REGISTRY[name][0](spark, sf_dir).count()
            except Exception as e:  # noqa: BLE001 - advisory probe
                print(f"# canary {name}: ERROR {e}", file=sys.stderr)
                continue
            canary[name] = round(time.perf_counter() - t0, 4)
            ref = canary_ref.get(name)
            flag = ""
            if ref and canary[name] > 1.5 * ref:
                flag = (
                    f" [DEGRADED WINDOW? {canary[name] / ref:.2f}x vs "
                    f"best-known {ref}]"
                )
            print(f"# canary {name}: {canary[name]:.2f}s{flag}", file=sys.stderr)

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    for idx, name in enumerate(bench_queries):
        if restart_every > 0 and idx > 0 and idx % restart_every == 0:
            print(f"# session restart after {idx} queries", file=sys.stderr)
            spark.stop()
            spark = _fresh_session(sf_dir)
        fn, _ = REGISTRY[name]
        best, n = None, 0
        for _ in range(repeats):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                n = df.count()
            except Exception as e:  # noqa: BLE001 - one bad query must not kill the run
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        if name in errors or best is None:
            continue
        timings[name] = round(best, 4)
        rows[name] = n
        print(f"# {name}: {n} rows in {timings[name]:.2f}s (best of {repeats})",
              file=sys.stderr)

    # Outlier re-measurement (r5 VERDICT #1, hardened r7): best-of-N WITHIN
    # one session doesn't protect against a degraded session window — all N
    # reps land in it (r5's official record showed knn_maxsim at 8.70s where
    # isolated best-of-3 at the same commit measured 1.74s; r6 recorded
    # streaming_minhash_lsh at 30.2s vs 13.95s isolated and the 2.0x ratio
    # let it through because best_known was itself degraded). Two triggers:
    #   (a) best > OUTLIER_RATIO (default 1.4 — BASELINE.md's documented
    #       noise band is ~25%) x best-known committed value;
    #   (b) unconditionally, the TOP_SLOWEST slowest queries of this run —
    #       a degraded best_known can't mask those.
    # Re-timed in a FRESH session; the smaller number stands. ``best_known``
    # carries the per-query minimum across rounds inside BENCH_DETAIL.json,
    # so one inflated round can't poison the reference for the next.
    official_detail = os.path.join(repo_dir, "BENCH_DETAIL.json")
    # Subset / skip-derived / non-default-sf / non-reference-core-count runs
    # are iteration runs: they must never clobber the official detail (or
    # truncate best_known — it happened in r6, ADVICE #1; the r14 8-core
    # scaling run clobbered it again via the missing cpus check). They write
    # to a scratch path instead.
    cpus = bench_cpus()
    prev_official_cpus: int | None = None
    try:
        with open(official_detail) as f:
            prev_official_cpus = json.load(f).get("cpus")
    except (OSError, ValueError):
        pass
    is_official = (
        not only
        and not skip_derived
        and os.path.realpath(sf_dir) == os.path.realpath(DEFAULT_SF_DIR)
        and cpus_match_official(prev_official_cpus, cpus)
    )
    if not cpus_match_official(prev_official_cpus, cpus):
        print(
            f"# cpus={cpus} != official reference {prev_official_cpus}: "
            "writing detail to scratch",
            file=sys.stderr,
        )
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        official_detail
        if is_official
        else os.path.join(repo_dir, "BENCH_DETAIL.scratch.json"),
    )
    prev_best: dict[str, float] = {}
    prev_derived: dict[str, float] = {}
    # Seed best-known from the official detail AND, for lane runs that write
    # elsewhere (SPARK_GRAFT_BENCH_DETAIL, e.g. the sf1 lane), from the lane's
    # own previous file (r8 ADVICE #3: the official file is sf-guarded, so a
    # non-default-sf lane got EMPTY best_known every round — its outlier gate
    # never fired and the lane couldn't accumulate cross-round references).
    seed_paths = [official_detail]
    if os.path.realpath(detail_path) != os.path.realpath(official_detail):
        seed_paths.append(detail_path)
    for seed_path in seed_paths:
        try:
            with open(seed_path) as f:
                prev_doc = json.load(f)
        except (OSError, ValueError):
            continue
        if str(prev_doc.get("sf")) != str(sf_val):
            continue
        # timings at a different core count are not comparable references:
        # an 8-core best_known would make every 32-core outlier gate blind
        # (and vice versa). Pre-cpus-field docs (None) stay accepted.
        if not cpus_match_official(prev_doc.get("cpus"), cpus):
            continue
        for q, t in prev_doc.get("queries", {}).items():
            prev_best[q] = min(prev_best.get(q, t), t)
        for q, t in prev_doc.get("best_known", {}).items():
            prev_best[q] = min(prev_best.get(q, t), t)
        # derived axes are throughputs: best-known is the MAX across
        # rounds (higher is better; MIN for _latency_s axes), min for the
        # per-query seconds above
        for a, v in prev_doc.get("derived", {}).items():
            prev_derived[a] = merge_best_known_axis(a, prev_derived.get(a, v), v)
        for a, v in prev_doc.get("derived_best_known", {}).items():
            prev_derived[a] = merge_best_known_axis(a, prev_derived.get(a, v), v)
    ratio = float(os.environ.get("SPARK_GRAFT_BENCH_OUTLIER_RATIO", "1.4"))
    top_slowest = int(os.environ.get("SPARK_GRAFT_BENCH_TOP_SLOWEST", "3"))
    suspects = [
        q
        for q, t in timings.items()
        if q in prev_best and prev_best[q] > 0 and t > ratio * prev_best[q]
    ]
    for q, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:top_slowest]:
        if q not in suspects:
            suspects.append(q)
    remeasured: dict[str, dict[str, float]] = {}
    for idx, name in enumerate(suspects):
        if idx % max(restart_every, 1) == 0:
            print(
                f"# outlier re-measure in fresh session: "
                f"{suspects[idx:idx + max(restart_every, 1)]}",
                file=sys.stderr,
            )
            spark.stop()
            spark = _fresh_session(sf_dir)
        fn, _ = REGISTRY[name]
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).count()
            except Exception as e:  # noqa: BLE001
                print(f"# remeasure {name}: ERROR {e}", file=sys.stderr)
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        if best is not None:
            # DIRECTION-SYMMETRIC adoption (r14 ADVICE): the fresh-session
            # re-measure is the controlled sample, so it becomes the declared
            # value whether faster OR slower — the old faster-only merge
            # understated the suite by keeping stale fast numbers for every
            # slower confirmation with no receipt. Best-of semantics live in
            # best_known (which min-merges BOTH samples below), not in the
            # declared value.
            remeasured[name] = {"was": timings[name], "now": round(best, 4)}
            timings[name] = round(best, 4)
    # best_known: min-merge current timings over ALL prev_best keys, so a
    # query that errored this round keeps its cross-round reference (ADVICE);
    # the pre-remeasure sample ("was") is a valid same-code observation too
    best_known = dict(prev_best)
    for q, t in timings.items():
        best_known[q] = round(min(t, best_known.get(q, t)), 4)
    for q, wr in remeasured.items():
        best_known[q] = round(min(wr["was"], best_known.get(q, wr["was"])), 4)

    # Derived throughputs on the BASELINE.md axes (insert vec/s, query q/s):
    # ingest the embeddings table into a segment store, then run the
    # partitioned ANN dataflow over it.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from vstream_spark.config import VectorIndexConf
    from vstream_spark.sources.tables import load_table
    from vstream_spark.storage.search import SegmentSearcher
    from vstream_spark.storage.segments import SegmentStore

    def _measure_derived(spark, d_reps: int, tmp: str) -> dict[str, float]:
        derived: dict[str, float] = {}
        emb = load_table(spark, sf_dir, "embeddings")
        vectors = emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("emb"),
            (F.col("vec_id") * 10).alias("event_time"),
            F.lit(10**12).alias("ttl"),
            F.lit("I").alias("op"),
        )
        # replay the table to amortize fixed job overhead (ids shifted per
        # loop so LWW dedup doesn't collapse the batch)
        from vstream_spark.sources.txt import replay

        loops = 20
        big = replay(vectors, loops, event_time_col="event_time", advance=10**9)
        big = big.withColumn(
            "id", F.col("id") + (F.col("event_time") / 10**9).cast("long") * 10**9
        )
        n_vec = n_emb = emb.count() * loops
        best_ins = None
        for rep in range(d_reps):
            # 250k rotation cap = the reference's vectors-per-HNSW-table
            # (params.yaml:58): at sf1 the 400k replay batch rotates into
            # two time-ranged segments, so the query axis exercises the
            # real multi-segment search+merge shape, not one giant segment
            store = SegmentStore(spark, tmp + f"/r{rep}", max_rows_per_segment=250_000)
            t0 = time.perf_counter()
            store.upsert_batch(big)
            dt = time.perf_counter() - t0
            best_ins = dt if best_ins is None else min(best_ins, dt)
        derived["insert_vec_per_s"] = round(n_vec / best_ins, 1)

        # Index the ingested store (C3 sidecar artifacts): the reference's
        # insert pipeline INCLUDES per-partition graph insertion (W1,
        # HnswLibKeyedProcessFunction) and its SST search is always
        # index-backed (hnsw_table_reader.cc:1653-1738) — so the lane
        # builds the artifact at flush and reports BOTH the raw ingest
        # rate (segment writes, comparable across rounds) and the
        # end-to-end indexed rate (the apples-to-apples with the
        # reference's 9,500 vec/s). kind='ivf' is the declared flush-rate
        # scale path (config.py: ~20x cheaper build than the graph when
        # segment churn outruns graph construction); recall at the lane's
        # nprobe is sampled below so the throughput number carries its
        # quality alongside.
        # ef_search doubles as the nprobe override on IVF workers (the
        # searcher passes max(ef_search, k) through) — keep both at 32
        idx_conf = VectorIndexConf(
            metric="l2", index_kind="ivf", nprobe=32, ef_search=32
        )
        # best-of-2 like every other axis (idempotent overwrite of the same
        # artifact): the first build pays one-time python-worker/JIT setup
        t_build = None
        for _ in range(2):
            t0 = time.perf_counter()
            store.build_segment_indexes(store.segments(), VectorIndexConf(index_kind="ivf"))
            dt = time.perf_counter() - t0
            t_build = dt if t_build is None else min(t_build, dt)
        derived["index_build_vec_per_s"] = round(n_vec / t_build, 1)
        derived["insert_indexed_vec_per_s"] = round(n_vec / (best_ins + t_build), 1)

        queries = emb.select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("emb")
        )
        n_q = queries.count()
        # Query axis: the engine's own store-read dataflow — SegmentSearcher
        # loads the persisted segment index ONCE per executor (C4 cache) and
        # every task searches its query slice against it. This replaced the
        # r10 lane's plain-LSH brute-force cogroup, which was skew-bound at
        # sf1 (34.7 q/s: fixed-partition 1/N scan floor + one hot LSH bucket
        # + AQE byte-coalescing — SCALE.md r10). Best-of-N keeps cold
        # index-load reps from setting the number; the first rep pays the
        # artifact load, later reps measure warm steady state (the
        # reference's searched memtable is warm too).
        searcher = SegmentSearcher(store, idx_conf)
        best_q = None
        out_pdf = None
        for _ in range(d_reps):
            t0 = time.perf_counter()
            out_pdf = searcher.search(queries, k=10)
            dt = time.perf_counter() - t0
            best_q = dt if best_q is None else min(best_q, dt)
        derived["query_per_s"] = round(n_q / best_q, 1)

        # Recall@10 on a query sample vs the exact scan (timed OUTSIDE the
        # axis): an approximate-throughput number is meaningless without
        # the recall it was measured at.
        sample_n = 256
        sample_qids = set(
            r["qid"]
            for r in queries.select("qid").limit(sample_n).collect()
        )
        sample_q = queries.filter(F.col("qid").isin(sample_qids))
        stored = store.read().filter("op = 'I'").select("id", "emb")
        from vstream_spark.operators.knn import knn_exact

        exact = {}
        for r in knn_exact(stored, sample_q, k=10, metric="l2").collect():
            exact.setdefault(r["qid"], set()).add(r["neighbor_id"])
        got = out_pdf[out_pdf["qid"].isin(sample_qids)]
        hits = sum(
            len(set(g["neighbor_id"]) & exact.get(qid, set()))
            for qid, g in got.groupby("qid")
        )
        denom = sum(len(v) for v in exact.values())
        derived["query_recall_at10_sample"] = round(hits / max(1, denom), 4)

        # Multi-segment query axis (r11 VERDICT #2): the main lane's 250k
        # cap rotates into only a couple of segments, so C7 temperature
        # ordering, C8 early termination and the chunked running merge are
        # barely exercised where the headline q/s is minted. Re-ingest the
        # same batch at a cap that forces >= 8 segments and measure q/s +
        # recall through the identical dataflow — the per-segment-count
        # overhead the SegmentSearcher chunking (segments_per_job) is meant
        # to keep flat.
        # own try/except: a multiseg failure (e.g. disk exhaustion on the
        # second store copy) must not discard the axes already measured
        try:
            cap8 = max(1, -(-n_vec // 8))
            store8 = SegmentStore(spark, tmp + "/seg8", max_rows_per_segment=cap8)
            store8.upsert_batch(big)
            store8.build_segment_indexes(store8.segments(), VectorIndexConf(index_kind="ivf"))
            # fresh searcher PER REP (ADVICE r12): a shared searcher lets
            # rep 1 seed the C8 EMA and reps 2+ early-terminate, so the
            # best-of-N timing and the recall (computed from the LAST rep)
            # could describe different effective search depths. A fresh
            # searcher starts with threshold 0.0 => every rep runs the
            # same full-depth dataflow; the executor index cache is
            # process-global, so warm steady state is still what's timed.
            best_q8 = None
            out8 = None
            for _ in range(d_reps):
                searcher8 = SegmentSearcher(store8, idx_conf)
                t0 = time.perf_counter()
                out8 = searcher8.search(queries, k=10)
                dt = time.perf_counter() - t0
                best_q8 = dt if best_q8 is None else min(best_q8, dt)
            derived["multiseg_segments"] = float(len(store8.segments()))
            derived["multiseg_query_per_s"] = round(n_q / best_q8, 1)
            got8 = out8[out8["qid"].isin(sample_qids)]
            hits8 = sum(
                len(set(g["neighbor_id"]) & exact.get(qid, set()))
                for qid, g in got8.groupby("qid")
            )
            derived["multiseg_recall_at10_sample"] = round(
                hits8 / max(1, denom), 4
            )
        except Exception as e:  # noqa: BLE001
            print(f"# multiseg axis: ERROR {e}", file=sys.stderr)

        # Warm-restore axis (r13 VERDICT #5 receipt): persisted C7/C8 state
        # made load-bearing in a bench lane, on the workload those
        # components target — a HOT segment holding the queries' true
        # neighbors plus 7 far "cold" segments (recent-data skew). The
        # replayed multiseg store can't exercise C8 at all: every query's
        # kth distance is 0.0 against its own clones, so the EMA stays 0
        # and the termination guard never opens. Here: a seed search
        # establishes temperature (the hot segment wins every top-k slot)
        # and the kth EMA, then save_state(); every timed rep constructs a
        # FRESH searcher restored with load_state() — the per-micro-batch
        # lifecycle StreamingVectorQuery runs — so it visits hottest-first
        # and early-terminates after the first chunk at full recall (the
        # cold segments contain no true neighbors). The cold twin (fresh
        # searcher, no restore) runs the identical dataflow at full depth.
        # termination_factor=1.2 is the per-collection knob for this lane:
        # the default 0.8 demands the current batch beat the historical
        # mean by 20%, which a steady workload never does.
        try:
            import dataclasses

            hot = vectors  # the real embeddings: every true neighbor
            storeh = SegmentStore(
                spark, tmp + "/seghot",
                max_rows_per_segment=max(n_emb // 20, 1) * 2,
            )
            storeh.upsert_batch(hot)
            for j in range(1, 8):
                cold_j = vectors.select(
                    (F.col("id") + j * 10**9).alias("id"),
                    F.transform(
                        "emb", lambda x: x + F.lit(float(10 * j))
                    ).cast("array<float>").alias("emb"),
                    (F.col("event_time") + j * 10**9).alias("event_time"),
                    "ttl", "op",
                )
                storeh.upsert_batch(cold_j)
            storeh.build_segment_indexes(
                storeh.segments(), VectorIndexConf(index_kind="ivf")
            )
            iconf_h = dataclasses.replace(
                idx_conf, termination_factor=1.2, segments_per_job=2
            )
            best_hc = None
            for _ in range(d_reps):
                searcher_hc = SegmentSearcher(storeh, iconf_h)
                t0 = time.perf_counter()
                searcher_hc.search(queries, k=10)
                dt = time.perf_counter() - t0
                best_hc = dt if best_hc is None else min(best_hc, dt)
            derived["hotcold_query_per_s"] = round(n_q / best_hc, 1)
            seed_searcher = SegmentSearcher(storeh, iconf_h)
            seed_searcher.search(queries, k=10)
            seed_searcher.save_state()
            best_hw = None
            outw = None
            searched_w = 0
            for _ in range(d_reps):
                searcher_hw = SegmentSearcher(storeh, iconf_h)
                searcher_hw.load_state()
                t0 = time.perf_counter()
                outw = searcher_hw.search(queries, k=10)
                dt = time.perf_counter() - t0
                searcher_hw.save_state()
                searched_w = len(searcher_hw.last_searched_ids)
                best_hw = dt if best_hw is None else min(best_hw, dt)
            derived["hotcold_warm_query_per_s"] = round(n_q / best_hw, 1)
            derived["hotcold_warm_segments_searched"] = float(searched_w)
            derived["hotcold_segments"] = float(len(storeh.segments()))
            # recall vs the exact scan over the whole hot+cold store (the
            # cold segments hold no true neighbors, so full recall is the
            # expected outcome OF the design, not an assumption)
            exact_h = {}
            stored_h = storeh.read().filter("op = 'I'").select("id", "emb")
            for r in knn_exact(stored_h, sample_q, k=10, metric="l2").collect():
                exact_h.setdefault(r["qid"], set()).add(r["neighbor_id"])
            goth = outw[outw["qid"].isin(sample_qids)]
            hitsh = sum(
                len(set(g["neighbor_id"]) & exact_h.get(qid, set()))
                for qid, g in goth.groupby("qid")
            )
            denom_h = sum(len(v) for v in exact_h.values())
            derived["hotcold_warm_recall_at10_sample"] = round(
                hitsh / max(1, denom_h), 4
            )
        except Exception as e:  # noqa: BLE001
            print(f"# hotcold warm axis: ERROR {e}", file=sys.stderr)


        # Production-shard multiseg point (r12 #5 carried through r13 #3):
        # the amortization claim ("per-segment overhead shrinks as shards
        # grow") needs a point at production shard size — >= 8 segments x
        # >= 64k rows. That requires >= 512k vectors, so the axis self-
        # gates on the table size (it runs on the sf1 lane; sf0.1's 40k
        # replay can't reach the shape and skips loudly instead of
        # committing a mislabeled point).
        try:
            prod_loops = 26
            n_p = (n_emb // 20) * prod_loops  # n_emb is count*20 upstream
            if n_p >= 8 * 64_000:
                bigp = replay(
                    vectors, prod_loops, event_time_col="event_time",
                    advance=10**9,
                )
                bigp = bigp.withColumn(
                    "id",
                    F.col("id")
                    + (F.col("event_time") / 10**9).cast("long") * 10**9,
                )
                storep = SegmentStore(
                    spark, tmp + "/segprod", max_rows_per_segment=65_000
                )
                storep.upsert_batch(bigp)
                storep.build_segment_indexes(
                    storep.segments(), VectorIndexConf(index_kind="ivf")
                )
                best_qp = None
                outp = None
                for _ in range(d_reps):
                    searcherp = SegmentSearcher(storep, idx_conf)
                    t0 = time.perf_counter()
                    outp = searcherp.search(queries, k=10)
                    dt = time.perf_counter() - t0
                    best_qp = dt if best_qp is None else min(best_qp, dt)
                segs_p = storep.segments()
                derived["prodseg_segments"] = float(len(segs_p))
                derived["prodseg_rows_per_segment"] = float(
                    max(s["count"] for s in segs_p)
                )
                derived["prodseg_query_per_s"] = round(n_q / best_qp, 1)
                # recall needs its own exact anchor (the prodseg store has
                # 26 replay generations, not the main store's 20)
                exact_p = {}
                stored_p = storep.read().filter("op = 'I'").select("id", "emb")
                for r in knn_exact(
                    stored_p, sample_q, k=10, metric="l2"
                ).collect():
                    exact_p.setdefault(r["qid"], set()).add(r["neighbor_id"])
                gotp = outp[outp["qid"].isin(sample_qids)]
                hitsp = sum(
                    len(set(g["neighbor_id"]) & exact_p.get(qid, set()))
                    for qid, g in gotp.groupby("qid")
                )
                denom_p = sum(len(v) for v in exact_p.values())
                derived["prodseg_recall_at10_sample"] = round(
                    hitsp / max(1, denom_p), 4
                )
            else:
                print(
                    f"# prodseg axis: skipped (n={n_p} < 512k; runs on the "
                    "sf1 lane)",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            print(f"# prodseg axis: ERROR {e}", file=sys.stderr)

        # Filtered-query axis (r13; measurement fixed r14 — VERDICT r13
        # wrong #1): the in-index allowlist path measured per-round. A
        # SEPARATE store persists a label attribute (the main ingest
        # store's schema must stay byte-comparable across rounds) at an 8x
        # replay / 4-segment rotation; the predicate sits in the
        # mid-selectivity band (0.30, just above the 0.25 pre-filter
        # threshold — the band where the r12 post_filter oversampled
        # hardest) and the routing picks in_index from the supplied SQL
        # hint. r13 timed an ~|Q|/25 batch, so the committed 20.4 q/s was
        # really per-call fixed cost divided by 8 queries — unreadable
        # round-over-round. Now: filtered_query_per_s is measured on the
        # SAME full n_q batch as the main query lane (amortizing the fixed
        # cost the way any production batch would), and the per-call
        # overhead is its own axis, filtered_call_latency_s, timed on a
        # small |Q|/25 batch where it dominates by construction. Recall is
        # reported against the exact pre-filter anchor computed once,
        # untimed. Own try/except: a filtered-axis failure must not
        # discard the axes already measured.
        try:
            loops_f = 8
            vec_lbl = emb.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("emb"),
                (F.col("vec_id") % 100).cast("int").alias("label"),
                (F.col("vec_id") * 10).alias("event_time"),
                F.lit(10**12).alias("ttl"),
                F.lit("I").alias("op"),
            )
            bigf = replay(vec_lbl, loops_f, event_time_col="event_time", advance=10**9)
            bigf = bigf.withColumn(
                "id",
                F.col("id") + (F.col("event_time") / 10**9).cast("long") * 10**9,
            )
            n_f = n_emb * loops_f // 20
            storef = SegmentStore(
                spark, tmp + "/segf", max_rows_per_segment=max(1, -(-n_f // 4))
            )
            storef.upsert_batch(bigf)
            storef.build_segment_indexes(
                storef.segments(), VectorIndexConf(index_kind="hnsw")
            )
            pred = F.col("label") < 30
            iconf_f = VectorIndexConf(
                metric="l2", index_kind="hnsw", ef_search=128,
                termination_lower_bound=1.0,  # rep-stable full depth
            )
            best_qf = None
            outf = None
            for _ in range(d_reps):
                searcherf = SegmentSearcher(storef, iconf_f)
                t0 = time.perf_counter()
                outf, strat_f, _sel_f = searcherf.search_filtered(
                    queries, pred, k=10, predicate_expr="label < 30"
                )
                dt = time.perf_counter() - t0
                best_qf = dt if best_qf is None else min(best_qf, dt)
            derived["filtered_segments"] = float(len(storef.segments()))
            derived["filtered_query_per_s"] = round(n_q / best_qf, 1)
            # per-call fixed-cost floor, timed where it dominates: a tiny
            # |Q|/25 batch (the shape r13 mistakenly committed AS the
            # throughput). Lower is better; derived_best_known tracks max,
            # so this axis is recorded per-round but excluded from the
            # max-merge semantics by its _s suffix reading (latency).
            qf = queries.filter(F.col("qid") % 25 == 0)
            n_qf = qf.count()
            best_call = None
            for _ in range(d_reps):
                searcherf = SegmentSearcher(storef, iconf_f)
                t0 = time.perf_counter()
                searcherf.search_filtered(
                    qf, pred, k=10, predicate_expr="label < 30"
                )
                dt = time.perf_counter() - t0
                best_call = dt if best_call is None else min(best_call, dt)
            derived["filtered_call_latency_s"] = round(best_call, 4)
            # recall vs the exact anchor (untimed; forced pre_filter is the
            # brute scan over the predicate's survivors), on the full batch
            anchorf, _, _ = SegmentSearcher(storef, iconf_f).search_filtered(
                queries, pred, k=10, force_strategy="pre_filter"
            )
            a_pairs = set(zip(anchorf["qid"], anchorf["neighbor_id"]))
            g_pairs = set(zip(outf["qid"], outf["neighbor_id"]))
            derived["filtered_recall_at10_sample"] = round(
                len(a_pairs & g_pairs) / max(1, len(a_pairs)), 4
            )
            if strat_f != "in_index":
                print(
                    f"# filtered axis: unexpected strategy {strat_f}",
                    file=sys.stderr,
                )
            print(
                f"# filtered axis: {derived['filtered_query_per_s']} q/s on "
                f"n_q={n_q}; call latency {derived['filtered_call_latency_s']}s "
                f"on n_qf={n_qf}",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001
            print(f"# filtered axis: ERROR {e}", file=sys.stderr)
        return derived

    # best-of-N on the derived axes too: single-shot numbers swing 2-3x
    # with python-worker spawn + JIT state (observed 62->216 q/s across
    # back-to-back reps of the identical dataflow; r5: 199->414 q/s
    # ACROSS full runs even at best-of-4) — at least 6 reps so the
    # cold/JIT reps never set the official throughput
    d_reps = max(repeats, 6)
    derived: dict[str, float] = {}
    derived_remeasured: dict[str, dict[str, float]] = {}
    still_degraded: list[str] = []
    tmp = tempfile.mkdtemp(prefix="bench-seg-")
    try:  # noqa: SIM105
        if skip_derived:
            raise _SkipDerived
        derived = _measure_derived(spark, d_reps, tmp + "/main")
        # Derived-axis outlier gate (r7 VERDICT #2): best-of-N inside one
        # session window doesn't protect the THROUGHPUT axes either — r7's
        # official query_per_s read 176.8 where an isolated re-measure at
        # the same commit read 331.3. Symmetric to the per-query gate: when
        # an axis lands more than OUTLIER_RATIO below its best-known
        # committed value, re-measure BOTH axes in a fresh session and let
        # the better number stand; derived_best_known max-merges across
        # rounds so one degraded round can't poison the reference.
        degraded = degraded_derived_axes(derived, prev_derived, ratio)
        if degraded:
            print(
                f"# derived axes degraded vs best-known {degraded}: "
                "re-measuring in a fresh session",
                file=sys.stderr,
            )
            spark.stop()
            spark = _fresh_session(sf_dir)
            redo = _measure_derived(spark, d_reps, tmp + "/redo")
            for a, v in redo.items():
                derived_remeasured[a] = {"was": derived.get(a), "now": v}
                # symmetric adoption (r14 ADVICE): the fresh-session leg is
                # the declared value in both directions; best-of lives in
                # derived_best_known (merged from BOTH samples below)
                derived[a] = v
            # axes STILL degraded after the fresh-session leg feed the
            # prior-commit control below (r13 VERDICT #4: the sf1 lane had
            # the fresh-session leg but no two-commit leg)
            still_degraded = degraded_derived_axes(derived, prev_derived, ratio)
    except _SkipDerived:
        print("# derived axes skipped (SPARK_GRAFT_BENCH_SKIP_DERIVED)", file=sys.stderr)
    except Exception as e:  # noqa: BLE001 - derived metrics are best-effort
        errors["derived"] = f"{type(e).__name__}: {e}"[:300]
        print(f"# derived: ERROR {errors['derived']}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    derived_best_known = dict(prev_derived)
    for a, v in derived.items():
        # recall fractions need 4 decimals — round(..., 1) would commit a
        # 0.96 sample as best-known 1.0 and mask every later regression
        nd = 4 if ("recall" in a or is_latency_axis(a)) else 1
        derived_best_known[a] = round(
            merge_best_known_axis(a, v, derived_best_known.get(a, v)), nd
        )
    for a, wr in derived_remeasured.items():
        # the pre-remeasure sample is a valid same-code observation too
        if wr.get("was") is None:
            continue
        nd = 4 if ("recall" in a or is_latency_axis(a)) else 1
        derived_best_known[a] = round(
            merge_best_known_axis(a, wr["was"], derived_best_known.get(a, wr["was"])), nd
        )

    # Drift control (r11 VERDICT #6): when official per-query timings moved
    # vs the PREVIOUS committed round, re-measure the top movers AT THE
    # PRIOR COMMIT (git worktree) in this same session window — the
    # mechanical version of the two-commit A/B that adjudicated r11's +20%
    # suite drift as machine noise. The control runs with the current
    # session STOPPED (never two Spark sessions at once — concurrent local
    # sessions contend and manufacture fake regressions) and its results
    # land in the committed detail so every round's drift story carries its
    # receipts. Best-effort: any git/subprocess failure is recorded, never
    # fatal.
    drift_control: dict = {}
    if is_official and os.environ.get("SPARK_GRAFT_BENCH_DRIFT_CONTROL", "1") == "1":
        try:
            import subprocess

            with open(official_detail) as f:
                prev_q = json.load(f).get("queries", {})
            movers = suite_mover_queries(timings, prev_q, ratio=1.25, top=3)
            if movers:
                commit = subprocess.run(
                    ["git", "log", "-n1", "--format=%H", "--", "BENCH_DETAIL.json"],
                    cwd=repo_dir, capture_output=True, text=True, check=True,
                ).stdout.strip()
                wt = tempfile.mkdtemp(prefix="bench-prior-")
                subprocess.run(
                    ["git", "worktree", "add", "--detach", "--force", wt, commit],
                    cwd=repo_dir, capture_output=True, check=True,
                )
                try:
                    # the control drives the prior bench.py via env hooks;
                    # a prior commit that predates them would silently run
                    # the FULL suite into the timeout and the control would
                    # degrade to a generic error (ADVICE r12) — probe for
                    # the hooks first and record the real cause instead
                    with open(os.path.join(wt, "bench.py")) as f:
                        prior_src = f.read()
                    missing = [
                        h
                        for h in (
                            "SPARK_GRAFT_BENCH_ONLY",
                            "SPARK_GRAFT_BENCH_SKIP_DERIVED",
                            "SPARK_GRAFT_BENCH_DETAIL",
                        )
                        if h not in prior_src
                    ]
                    if missing:
                        raise RuntimeError(
                            f"prior commit lacks subset support: {missing}"
                        )
                    print(
                        f"# drift control: re-measuring {[q for q, _ in movers]} "
                        f"at prior commit {commit[:12]}",
                        file=sys.stderr,
                    )
                    spark.stop()
                    env = dict(
                        os.environ,
                        SPARK_GRAFT_BENCH_ONLY=",".join(q for q, _ in movers),
                        SPARK_GRAFT_BENCH_SKIP_DERIVED="1",
                        SPARK_GRAFT_BENCH_DETAIL=os.path.join(wt, "drift.json"),
                        SPARK_GRAFT_BENCH_DRIFT_CONTROL="0",
                    )
                    subprocess.run(
                        [sys.executable, "bench.py"], cwd=wt, env=env,
                        capture_output=True, check=True, timeout=2400,
                    )
                    with open(os.path.join(wt, "drift.json")) as f:
                        prior = json.load(f).get("queries", {})
                    drift_control = {
                        "prior_commit": commit,
                        "movers": {
                            q: {
                                "prev_round": prev_q[q],
                                "now": timings[q],
                                "at_prior_commit": prior.get(q),
                                "ratio": r,
                            }
                            for q, r in movers
                        },
                    }
                finally:
                    subprocess.run(
                        ["git", "worktree", "remove", "--force", wt],
                        cwd=repo_dir, capture_output=True,
                    )
            else:
                drift_control = {"movers": {}}
        except Exception as e:  # noqa: BLE001 - control is evidence, not a gate
            drift_control = {"error": f"{type(e).__name__}: {e}"[:300]}
            print(f"# drift control: ERROR {drift_control['error']}", file=sys.stderr)

    # Derived-axes drift control (r13 VERDICT #4): when a derived axis is
    # STILL degraded >ratio vs best-known after the fresh-session
    # re-measure, re-run the derived block AT THE PRIOR COMMIT of this
    # run's own detail file — lane runs included (the r13 control was
    # official-only, so the sf1 derived lane structurally never carried a
    # two-commit receipt). The prior run executes ONE cheap suite query
    # (ONLY=) with SKIP_DERIVED unset so only the derived axes are
    # measured, in a worktree, with the current session stopped. Trigger
    # logic is the module-level degraded_derived_axes (pinned in
    # tests/test_bench_logic.py).
    if (
        still_degraded
        and os.environ.get("SPARK_GRAFT_BENCH_DRIFT_CONTROL", "1") == "1"
    ):
        try:
            import subprocess

            detail_base = os.path.basename(detail_path)
            tracked = (
                subprocess.run(
                    ["git", "ls-files", "--error-unmatch", detail_base],
                    cwd=repo_dir, capture_output=True,
                ).returncode
                == 0
                and os.path.dirname(os.path.realpath(detail_path))
                == os.path.realpath(repo_dir)
            )
            ref_file = detail_base if tracked else "BENCH_DETAIL.json"
            commit = subprocess.run(
                ["git", "log", "-n1", "--format=%H", "--", ref_file],
                cwd=repo_dir, capture_output=True, text=True, check=True,
            ).stdout.strip()
            if not commit:
                raise RuntimeError(f"no prior commit touches {ref_file}")
            wt = tempfile.mkdtemp(prefix="bench-prior-derived-")
            subprocess.run(
                ["git", "worktree", "add", "--detach", "--force", wt, commit],
                cwd=repo_dir, capture_output=True, check=True,
            )
            try:
                print(
                    f"# derived drift control: re-measuring {still_degraded} "
                    f"at prior commit {commit[:12]}",
                    file=sys.stderr,
                )
                spark.stop()
                env = dict(
                    os.environ,
                    SPARK_GRAFT_BENCH_ONLY="text_tokenize",
                    SPARK_GRAFT_BENCH_DETAIL=os.path.join(wt, "drift_d.json"),
                    SPARK_GRAFT_BENCH_DRIFT_CONTROL="0",
                )
                env.pop("SPARK_GRAFT_BENCH_SKIP_DERIVED", None)
                subprocess.run(
                    [sys.executable, "bench.py"], cwd=wt, env=env,
                    capture_output=True, check=True, timeout=3600,
                )
                with open(os.path.join(wt, "drift_d.json")) as f:
                    prior_d = json.load(f).get("derived", {})
                drift_control["derived_movers"] = {
                    "prior_commit": commit,
                    "axes": {
                        a: {
                            "best_known": prev_derived.get(a),
                            "now": derived.get(a),
                            "at_prior_commit": prior_d.get(a),
                        }
                        for a in still_degraded
                    },
                }
            finally:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", wt],
                    cwd=repo_dir, capture_output=True,
                )
        except Exception as e:  # noqa: BLE001 - control is evidence, not a gate
            drift_control["derived_movers"] = {
                "error": f"{type(e).__name__}: {e}"[:300]
            }
            print(
                f"# derived drift control: ERROR "
                f"{drift_control['derived_movers']['error']}",
                file=sys.stderr,
            )

    total = round(sum(timings.values()), 4)
    detail = {
        "metric": "declared_query_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "cpus": cpus,
        "n_queries": len(timings),
        "queries_hash": queries_set_hash(timings),
        "repeats": repeats,
        "restart_every": restart_every,
        "canary": canary,
        "derived": derived,
        "derived_best_known": dict(sorted(derived_best_known.items())),
        "derived_remeasured": derived_remeasured,
        "errors": errors,
        "remeasured": remeasured,
        "drift_control": drift_control,
        "queries": dict(sorted(timings.items())),
        # result row counts: scale rehearsals must show the verify paths are
        # live (r8 found dedup lanes returning 0 rows at sf1 — a candidate-
        # generation-only measurement); committed counts make that auditable
        "rows": dict(sorted(rows.items())),
        "best_known": dict(sorted(best_known.items())),
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=False)
        f.write("\n")
    # Compact stdout line: the driver records a bounded stdout tail, so the
    # per-query map stays in BENCH_DETAIL.json; only the slowest few appear
    # here for at-a-glance context.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    print(
        json.dumps(
            {
                "metric": "declared_query_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "queries_hash": queries_set_hash(timings),
                "cpus": cpus,
                "n_remeasured": len(remeasured),
                "detail": os.path.basename(detail_path),
                "sf": sf_val,
                "derived": derived,
                "errors": {k: v[:80] for k, v in errors.items()},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
