"""Pure-function pins for bench.py's drift-control trigger logic (r13
VERDICT #4): the derived-axes degradation trigger (throughput vs latency
inversion), the best-known merge direction, and the suite mover selection.
No Spark session involved."""

import bench


def test_latency_axis_detection():
    assert bench.is_latency_axis("filtered_call_latency_s")
    assert not bench.is_latency_axis("filtered_query_per_s")
    assert not bench.is_latency_axis("insert_vec_per_s")


def test_best_known_merge_direction():
    # throughput: higher is better -> max
    assert bench.merge_best_known_axis("query_per_s", 100.0, 250.0) == 250.0
    # latency: lower is better -> min
    assert (
        bench.merge_best_known_axis("filtered_call_latency_s", 0.5, 0.3) == 0.3
    )


def test_degraded_derived_axes_throughput_and_latency():
    prev = {
        "query_per_s": 1000.0,
        "insert_vec_per_s": 30000.0,
        "filtered_call_latency_s": 0.30,
    }
    now = {
        "query_per_s": 600.0,        # 1000 > 1.4*600 -> degraded
        "insert_vec_per_s": 25000.0,  # 30000 < 1.4*25000 -> fine
        "filtered_call_latency_s": 0.50,  # 0.5 > 1.4*0.3 -> degraded (slower)
        "new_axis": 42.0,             # no reference -> never triggers
        "zero_axis": 0.0,             # non-positive -> never triggers
    }
    got = bench.degraded_derived_axes(now, prev, ratio=1.4)
    assert sorted(got) == ["filtered_call_latency_s", "query_per_s"]
    # a FASTER latency must not read as degraded
    now2 = dict(now, filtered_call_latency_s=0.10)
    assert bench.degraded_derived_axes(now2, prev, ratio=1.4) == ["query_per_s"]


def test_suite_mover_queries_orders_and_caps():
    prev = {"a": 1.0, "b": 2.0, "c": 1.0, "d": 1.0, "e": 1.0}
    now = {"a": 2.0, "b": 2.1, "c": 1.9, "d": 1.5, "e": 1.2}
    movers = bench.suite_mover_queries(now, prev, ratio=1.25, top=3)
    # worst ratio first, >1.25 only, capped at 3 (e at 1.2 excluded;
    # d at 1.5 loses the cap to the three worse movers)
    assert movers == [("a", 2.0), ("c", 1.9), ("d", 1.5)]
    assert bench.suite_mover_queries({"a": 1.1}, {"a": 1.0}) == []
    # queries without a prior reference never appear
    assert bench.suite_mover_queries({"x": 9.0}, {}) == []


def test_cpus_guard_blocks_nondefault_core_runs(monkeypatch):
    """r14 VERDICT #2: a run at a core count other than the committed
    official detail's must not be official (the r14 8-core scaling run
    overwrote BENCH_DETAIL.json and poisoned best_known). Pre-cpus-field
    details accept any run (the first post-upgrade run stamps the ref)."""
    assert bench.cpus_match_official(32, 32)
    assert not bench.cpus_match_official(32, 8)
    assert bench.cpus_match_official(None, 8)  # legacy detail: accept
    # bench_cpus reads $SPARK_GRAFT_CPUS when numeric
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench.bench_cpus() == 8
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert bench.bench_cpus() >= 1


def test_queries_set_hash_is_order_independent():
    """The stdout line carries a hash of the timed-query NAME SET so the
    driver can distinguish top-8 churn from genuinely dropped queries."""
    a = bench.queries_set_hash(["x", "y", "z"])
    assert a == bench.queries_set_hash(["z", "x", "y"])
    assert a != bench.queries_set_hash(["x", "y"])
    assert len(a) == 12


def _sparse(path, size: int) -> None:
    """A file of ``size`` bytes by ``os.path.getsize`` that occupies
    (almost) no disk: the size derivations read only the length."""
    with open(path, "wb") as f:
        f.truncate(size)


def test_stream_state_partitions_derivation(tmp_path):
    """The state-partition count derives from input bytes (ceil/target),
    floored for residual parallelism and capped at 2x defaultParallelism —
    partition-count changes never change results (oracle-gated), but the
    derivation itself is pinned here."""
    from vstream_spark.streaming.pipeline import stream_state_partitions

    class _SC:
        defaultParallelism = 8

    class _Spark:
        sparkContext = _SC()

    spark = _Spark()
    small = tmp_path / "small.parquet"
    _sparse(small, 1024)
    # tiny input -> the floor, not the session's static shuffle partitions
    assert stream_state_partitions(spark, str(small)) == 4
    # scales with bytes: 80 MB at 16 MB/partition -> 5
    big = tmp_path / "big"
    big.mkdir()
    _sparse(big / "part-0", 40 << 20)
    _sparse(big / "part-1", 40 << 20)
    # dotted/underscore metadata files are not data
    _sparse(big / "_SUCCESS", 1 << 30)
    assert stream_state_partitions(spark, str(big)) == 5
    # capped at 2x defaultParallelism however large the input
    _sparse(big / "part-2", 1 << 20)
    assert (
        stream_state_partitions(spark, str(big), target_bytes=1024) == 16
    )
    # floor is a knob (a compute-heavy stream can keep more parallelism)
    assert stream_state_partitions(spark, str(small), floor=6) == 6


def test_batch_shuffle_partitions_derivation(tmp_path, monkeypatch):
    """r14 VERDICT #7: the session's shuffle width derives from input size
    (ceil bytes/128MB), floored at the core count — identical to the old
    static 32 on the 32-core harness at rehearsal SFs — and capped at
    2x cores (the documented cluster rule of thumb)."""
    from vstream_spark.session import batch_shuffle_partitions

    d = tmp_path / "sf"
    d.mkdir()
    _sparse(d / "t.parquet", 1024)
    # tiny input -> core-count floor
    assert batch_shuffle_partitions(str(d), cores=32) == 32
    # 40 cores' worth of 128MB targets on 16 cores -> capped at 32
    _sparse(d / "big", 40 * 128 << 20)
    assert batch_shuffle_partitions(str(d), cores=16) == 32
    # between floor and cap: width follows bytes (40 full targets + the
    # 1 KB file above tip the ceil to 41)
    assert batch_shuffle_partitions(str(d), cores=30) == 41
    # metadata files excluded
    _sparse(d / "_SUCCESS", 1 << 30)
    assert batch_shuffle_partitions(str(d), cores=30) == 41
    # no data dir -> cores (env fallback exercised via monkeypatch)
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert batch_shuffle_partitions() == 12


def test_resolve_sf_dir_absolutizes_and_exports(tmp_path, monkeypatch):
    """The drift controls re-run bench.py in a prior-commit worktree
    (different cwd) with the inherited env — a relative SPARK_GRAFT_SF_DIR
    must be resolved AND written back so the child inherits a path that
    still exists from any cwd (the r14 sf1-lane drift control failed on
    exactly this)."""
    import os

    from bench import resolve_sf_dir

    d = tmp_path / "sfX"
    d.mkdir()
    monkeypatch.chdir(tmp_path)
    out = resolve_sf_dir("sfX")
    assert os.path.isabs(out) and os.path.samefile(out, d)
    assert os.environ["SPARK_GRAFT_SF_DIR"] == out
