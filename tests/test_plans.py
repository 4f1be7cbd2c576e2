"""Plan-shape regression tests: the physical properties SCALE.md claims."""

import numpy as np
from pyspark.sql import functions as F

from vstream_spark.plans.audit import (
    assert_plan_contains,
    assert_plan_lacks,
    count_exchanges,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    from vstream_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    vectors = emb.selectExpr("vec_id as id", "embedding as emb")
    queries = emb.filter("vec_id % 25 = 0").selectExpr("vec_id as qid", "embedding as emb")
    return vectors, queries


def test_knn_exact_broadcasts_queries_single_exchange(spark):
    from vstream_spark.operators.knn import knn_exact

    vectors, queries = _emb(spark)
    # pre-widened vector side (the at-scale shape: many input splits) ->
    # the ONLY exchange knn_exact itself adds is the qid top-k window
    df = knn_exact(vectors.repartition(32), queries, k=10, metric="l2")
    assert_plan_contains(df, "BroadcastNestedLoopJoin", "WindowGroupLimit")
    assert count_exchanges(df) == 2  # caller repartition + top-k, nothing else
    # no Python in the scoring path (pure Catalyst distance)
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")
    # an under-partitioned input (small-file scan) gains exactly the widening
    # repartition — the BNLJ pair loop must never serialize onto one task
    df2 = knn_exact(vectors, queries, k=10, metric="l2")
    assert count_exchanges(df2) == 2


def test_relational_pushdown_and_broadcast(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["rel_shipping_priority"]
    df = fn(spark, SF)
    plan = assert_plan_contains(df, "BroadcastHashJoin", "PushedFilters: [")
    # the pushed filter actually reaches a scan (not an empty list everywhere)
    assert "PushedFilters: []" != plan.split("PushedFilters: ")[1].split("\n")[0]


def test_load_table_plan_cache(spark, tmp_path):
    """load_table memoizes the LOGICAL PLAN per (session, file-stat, filter)
    — repeated loads skip the footer/schema round trips — and invalidates
    when the file changes (mtime/size key), so a rewritten table can never
    serve a stale plan. Plan-handle reuse only: every action still scans
    parquet."""
    import os
    import shutil

    from vstream_spark.sources.tables import load_table

    a = load_table(spark, SF, "embeddings")
    assert load_table(spark, SF, "embeddings") is a  # cache hit
    assert load_table(spark, SF, "documents") is not a
    # a raw_filter variant is a distinct cache entry
    f = load_table(spark, SF, "lineitem", raw_filter="l_shipdate >= 0",
                   raw_filter_col="l_shipdate")
    assert load_table(spark, SF, "lineitem") is not f
    # file mutation invalidates: copy table to a tmp dir, load, touch, reload
    d = str(tmp_path)
    shutil.copy(f"{SF}/embeddings.parquet", f"{d}/embeddings.parquet")
    b1 = load_table(spark, d, "embeddings")
    assert load_table(spark, d, "embeddings") is b1
    os.utime(f"{d}/embeddings.parquet", ns=(1, 1))
    assert load_table(spark, d, "embeddings") is not b1


def test_relational_date_predicates_reach_scan(spark):
    """The ship-date predicates are written against the DERIVED timestamp
    column (timestamp_micros(raw DIV 1000)), which Spark cannot push to the
    parquet scan; the raw-nanos preimage refinement (r14) must restore
    PushedFilters on l_shipdate — and, being redundant with the query's own
    WHERE, must leave results bit-identical."""
    from vstream_spark.queries import REGISTRY, _make_relational, _RELATIONAL

    for name in ("rel_pricing_summary", "rel_revenue_forecast"):
        fn, _ = REGISTRY[name]
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = [
            ln for ln in plan.splitlines()
            if "PushedFilters" in ln and "l_shipdate" in ln
        ]
        assert pushed, f"{name}: no pushed l_shipdate filter\n{plan}"
        # results identical to the unrefined query (raw preimage is exact)
        plain = _make_relational(_RELATIONAL[name])(spark, SF)
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, plain.collect())
        )


def test_events_ts_preimage_reaches_scan_on_nanos_vintage(spark, tmp_path):
    """r15 (VERDICT #3): the streaming_late_rollup fixture's split predicate
    gets the same raw-nanos preimage treatment as the rel family. On a
    NANOS-vintage events table (int64 ts under nanosAsLong) the preimage
    must reach PushedFilters, and the sliced row sets must equal the
    unrefined converted-column filter's — boundary values included."""
    from datetime import datetime, timezone

    from vstream_spark.queries import _LATE_SPLIT
    from vstream_spark.sources.tables import load_table

    m = int(
        datetime.strptime(_LATE_SPLIT, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1_000_000
    )
    # nanos straddling the split: strictly below, the 3 ns values that
    # truncate INTO the split microsecond (ts == T, so NOT < T), and above
    ns_vals = [m * 1000 - 1, m * 1000, m * 1000 + 999, m * 1000 + 1000,
               m * 1000 - 3_600_000_000_000]
    sf = tmp_path / "sfnanos"
    sf.mkdir()
    spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(ns_vals)],
        "event_id bigint, ts bigint",
    ).write.parquet(str(sf / "events.parquet"))
    expr = f"unix_micros(TIMESTAMP '{_LATE_SPLIT}')"
    pre = load_table(
        spark, str(sf), "events",
        raw_filter=f"ts <= {expr} * 1000 - 1", raw_filter_col="ts",
    )
    post = load_table(
        spark, str(sf), "events",
        raw_filter=f"ts >= {expr} * 1000", raw_filter_col="ts",
    )
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert any(
        "PushedFilters" in ln and "ts" in ln and "LessThanOrEqual" in ln
        for ln in plan.splitlines()
    ), f"no pushed ts preimage\n{plan}"
    import pyspark.sql.functions as F

    plain = load_table(spark, str(sf), "events")
    want_pre = {r.event_id for r in plain.filter(F.col("ts") < _LATE_SPLIT).collect()}
    want_post = {r.event_id for r in plain.filter(~(F.col("ts") < _LATE_SPLIT)).collect()}
    got_pre = {r.event_id for r in pre.filter(F.col("ts") < _LATE_SPLIT).collect()}
    got_post = {r.event_id for r in post.filter(~(F.col("ts") < _LATE_SPLIT)).collect()}
    assert got_pre == want_pre == {0, 4}
    assert got_post == want_post == {1, 2, 3}


def test_hashed_tf_partial_aggregation(spark):
    from vstream_spark.operators.embed import hashed_tf
    from vstream_spark.sources.tables import load_table

    df = hashed_tf(load_table(spark, SF, "documents"), dim=64)
    plan = assert_plan_contains(df, "partial_count")
    # map-side combine happens before the single exchange
    assert count_exchanges(df) == 1


def test_scan_prunes_columns(spark):
    from vstream_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id")
    plan = assert_plan_contains(docs, "ReadSchema")
    # only the projected column reaches the scan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" not in read_schema and "doc_id" in read_schema


def test_partitioned_worker_shuffles_on_partition_id(spark):
    from vstream_spark.config import PartitionerConf
    from vstream_spark.operators.partitioned import knn_partitioned_worker

    vectors, queries = _emb(spark)
    df = knn_partitioned_worker(
        vectors, queries, PartitionerConf(kind="simple", num_partitions=4), k=5
    )
    assert_plan_contains(df, "FlatMapCoGroupsInPandas", "partition_id")


def test_embed_text_is_python_free(spark):
    """embed_text must stay inside whole-stage codegen end to end — a Python
    eval node here would put per-token work back on the slow path."""
    from vstream_spark.operators.embed import embed_text

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    emb = embed_text(docs, dim=16)
    assert_plan_lacks(emb, "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")
    # two exchanges: (doc_id, bucket) tf aggregation + per-doc collect
    assert count_exchanges(emb) == 2


def test_similarity_join_exact_is_broadcast_no_python(spark):
    """The exact similarity join must be a JVM broadcast NLJ: no Python eval
    nodes (the old mapInPandas path routed the right side through the driver
    via toPandas — an OOM at scale)."""
    from vstream_spark.operators.similarity import similarity_join_exact
    from vstream_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    df = similarity_join_exact(emb, emb, threshold=0.4)
    assert_plan_contains(df, "BroadcastNestedLoopJoin")
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def test_asof_join_is_single_shuffle(spark):
    """The union/window as-of plan must stay ONE exchange (on the by-key) —
    a sort-merge or range-join formulation would shuffle both sides and
    blow up on skewed keys."""
    from vstream_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 1.0)], "user_id bigint, ts bigint, value double"
    )
    right = spark.createDataFrame(
        [(1, 5, 2.0)], "user_id bigint, ts bigint, value double"
    )
    df = asof_join(left, right, on="ts", by="user_id")
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython", "SortMergeJoin")
    assert count_exchanges(df) == 1


def test_chunk_tokens_is_python_free(spark):
    """Chunking must stay in whole-stage codegen (slice/posexplode) — it runs
    over every document of the corpus."""
    from vstream_spark.functions.text import chunk_tokens
    from vstream_spark.sources.tables import load_table

    df = chunk_tokens(load_table(spark, SF, "documents"), chunk_size=32, stride=24)
    assert_plan_lacks(df, "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")
    assert count_exchanges(df) == 0  # pure scan -> project -> generate


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval side must broadcast: a shuffle join here would move the whole
    exploded training corpus for a tiny eval set."""
    from pyspark.sql import functions as F

    from vstream_spark.operators.dedup import decontaminate
    from vstream_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    df = decontaminate(docs, docs.filter(F.col("doc_id") % 20 == 7), n=3)
    assert_plan_contains(df, "BroadcastHashJoin")


def test_small_qty_revenue_broadcast_prune(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["rel_small_qty_revenue"]
    df = fn(spark, SF)
    # brand partkeys broadcast-semi-prune lineitem before the window shuffle
    assert_plan_contains(df, "BroadcastHashJoin", "LeftSemi")
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython", "CartesianProduct")


def test_pii_redact_pure_codegen(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["text_pii_redact"]
    df = fn(spark, SF)
    assert count_exchanges(df) == 0
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")


def test_dup_spans_python_free_fp_shuffle(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["text_dup_spans"]
    df = fn(spark, SF)
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython", "CartesianProduct")


def test_pack_sequences_no_global_sort(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["text_pack_sequences"]
    df = fn(spark, SF)
    # packing must stay shard-parallel: window partitioned by shard, never a
    # global (empty-partitioning) sort of the chunk stream
    plan = assert_plan_contains(df, "Window")
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")
    import re

    assert not re.search(r"Sort \[doc_id[^\]]*\], true", plan), "global sort leaked"


def test_oov_vocab_broadcast(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["text_oov_rate"]
    df = fn(spark, SF)
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "SortMergeJoin", "ArrowEvalPython", "BatchEvalPython")


def test_random_projection_map_only(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["emb_random_projection"]
    df = fn(spark, SF)
    # pure map-side codegen: no shuffle, no Python
    assert count_exchanges(df) == 0
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")


def test_cluster_assign_broadcasts_centroids(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["emb_cluster_assign"]
    df = fn(spark, SF)
    assert_plan_contains(df, "BroadcastNestedLoopJoin")
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")


def test_media_dedup_single_exchange_no_python(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["media_exact_dedup"]
    df = fn(spark, SF)
    # blob -> 16-byte hash map-side, one hash-agg exchange
    assert count_exchanges(df) == 1
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")
    assert_plan_contains(df, "partial_count")


def test_top_tokens_is_distributed_topn(spark):
    from vstream_spark.queries import REGISTRY

    for name in ("text_bigram_counts", "text_top_tokens"):
        fn, _ = REGISTRY[name]
        df = fn(spark, SF)
        # top-N must be TakeOrderedAndProject (per-partition top-N + driver
        # merge of N rows), never a 1-partition global Window sort
        assert_plan_contains(df, "TakeOrderedAndProject")


def test_late_supplier_semi_anti_share_keys(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["rel_late_supplier_blame"]
    df = fn(spark, SF)
    plan = assert_plan_contains(df, "LeftSemi", "LeftAnti", "TakeOrderedAndProject")
    assert "CartesianProduct" not in plan


def test_anomaly_broadcasts_stats(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["events_anomaly"]
    df = fn(spark, SF)
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython", "SortMergeJoin")


def test_semantic_dedup_broadcast_assign_cluster_keyed_pairs(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["dedup_semantic"]
    df = fn(spark, SF)
    # the assignment stage is materialized once (localCheckpoint -> the pair
    # query reads an ExistingRDD); the pair join keys on cluster_id with the
    # distances in Catalyst — never a cartesian product or Python eval.
    # (The broadcast shape of the assignment itself is pinned separately in
    # test_cluster_assign_broadcasts_centroids.)
    plan = assert_plan_contains(df, "ExistingRDD")
    assert "cluster_id" in plan
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython", "CartesianProduct")


def test_mean_pool_partial_aggregation(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["emb_mean_pool"]
    df = fn(spark, SF)
    # posexplode then ONE exchange carrying partial (sum,count) cells
    assert_plan_contains(df, "Generate", "partial_avg")
    assert count_exchanges(df) == 1
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")


def test_table_profile_single_pass(spark):
    from vstream_spark.operators.profile import profile
    from vstream_spark.sources.tables import load_table

    df = profile(load_table(spark, SF, "documents"), ["doc_id", "lang"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one scan of the table feeds every per-column stat (single-pass claim)
    assert plan.count("Scan parquet") <= 1
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")


def test_weighted_sample_is_distributed_topn(spark):
    from vstream_spark.operators.sample import weighted_sample
    from vstream_spark.sources.tables import load_table

    df = weighted_sample(load_table(spark, SF, "documents"), 10, "n_chars")
    # top-n via TakeOrdered (per-partition heads, O(n) at the driver) —
    # never a global Sort+Exchange; key arithmetic is pure codegen
    assert_plan_contains(df, "TakeOrderedAndProject")
    assert count_exchanges(df) == 0
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython")


def test_bm25_broadcasts_idf_no_python(spark):
    from vstream_spark.operators.retrieval import bm25
    from vstream_spark.sources.tables import load_table

    df = bm25(load_table(spark, SF, "documents"), ["vector", "scan"])
    # O(terms) idf side broadcast; token stream partial-aggregated; no Python
    assert_plan_contains(df, "BroadcastHashJoin", "partial_count")
    assert_plan_lacks(df, "ArrowEvalPython", "BatchEvalPython", "CartesianProduct")


def test_sparse_dot_is_partitioned_matmul(spark):
    """knn_sparse_dot's scale shape (r9): the posting-list PAIR join
    materializes sum_t qdf*df rows (~df^2 growth, 23x on 10x data at sf1),
    so scoring now runs as sparse_topk — hash-partition postings by doc,
    one exact local matmul per partition (MapInPandas), shuffle only the
    per-partition top-k partials. Pin: vocab still broadcasts into the
    posting filter, the matmul stage is present, postings hash-partition
    on the doc id, and no dense pair join ever appears."""
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["knn_sparse_dot"]
    df = fn(spark, SF)
    plan = assert_plan_contains(
        df, "BroadcastHashJoin", "MapInPandas", "hashpartitioning(doc_id"
    )
    assert_plan_lacks(df, "CartesianProduct")
    assert "BroadcastNestedLoopJoin" not in plan  # never a dense pair loop


def test_namespaced_search_joins_on_namespace(spark):
    from vstream_spark.queries import REGISTRY

    fn, _ = REGISTRY["knn_namespaced"]
    df = fn(spark, SF)
    # the namespace equality is a hash-join key, not a post-NLJ filter
    assert_plan_contains(df, "BroadcastHashJoin")
    assert_plan_lacks(df, "BroadcastNestedLoopJoin", "CartesianProduct",
                      "ArrowEvalPython", "BatchEvalPython")


def test_per_query_k_rank_cut_stays_map_side(spark):
    """knn_partitioned with a per-query k COLUMN defeats Catalyst's
    WindowGroupLimit (non-literal rank filter): every Q x N scored row
    reaches the sort/exchange — the sf1 rehearsal measured 62x wall time
    on 10x data for this plan. k_cap (the static bound of the k column)
    restores the map-side cut; this pins that the pushdown actually fires
    through the dedup+rank window stack."""
    from vstream_spark.config import PartitionerConf
    from vstream_spark.operators.partitioned import knn_partitioned

    vectors, queries = _emb(spark)
    queries = queries.withColumn("k", 5 + F.col("qid") % 6)
    conf = PartitionerConf(kind="simple", num_partitions=4)
    capped = knn_partitioned(vectors, queries, conf, k=None, metric="l2", k_cap=10)
    assert_plan_contains(capped, "WindowGroupLimit")
    # r7 VERDICT #5: a caller omitting k_cap no longer gets the 62x plan —
    # the cap is auto-derived (one max(k) agg on the query side), so the
    # map-side cut fires here too, with identical results
    plain = knn_partitioned(vectors, queries, conf, k=None, metric="l2")
    assert_plan_contains(plain, "WindowGroupLimit")
    got = sorted(map(tuple, capped.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want and len(got) > 0
    # knn_exact's per-query-k path auto-derives the same way
    from vstream_spark.operators.knn import knn_exact

    exact = knn_exact(vectors, queries, k=None, metric="l2")
    assert_plan_contains(exact, "WindowGroupLimit")
    assert sorted(map(tuple, exact.collect())) == want


def test_single_assignment_merge_skips_dedup_window(spark):
    """Partitioners that assign each data row exactly one partition (simple;
    odyssey's one-member-per-group query routing) can never hand the merge a
    duplicate (qid, id) candidate, so the M1 dedup window — a second full
    sort+exchange over Q x N scored rows on the exact path — must be absent
    from the plan. Replicating partitioners (kmeans rf>1) must keep it."""
    from vstream_spark.config import PartitionerConf
    from vstream_spark.operators.partitioned import knn_partitioned
    from vstream_spark.operators.knn import knn_exact

    vectors, queries = _emb(spark)
    simple = PartitionerConf(kind="simple", num_partitions=4)
    df = knn_partitioned(vectors, queries, simple, k=10, metric="l2")
    assert_plan_lacks(df, "_dup")
    # bit-identical to ground truth without the dedup pass
    want = sorted(map(tuple, knn_exact(vectors, queries, k=10, metric="l2").collect()))
    got = sorted(map(tuple, df.collect()))
    assert got == want and len(got) > 0

    km = PartitionerConf(kind="kmeans", num_partitions=4, replication_factor=2)
    df_r = knn_partitioned(vectors, queries, km, k=10, metric="l2")
    assert_plan_contains(df_r, "_dup")


def test_explicit_width_policy(spark):
    """The shared AQE byte-coalesce guard (operators/util.explicit_width,
    r10 VERDICT #2): width = full parallelism for pair-quadratic stages,
    rows/rows_per_task clamped to [1, par] when sized, plan-stats sizing
    runs NO job, and the exchange is REPARTITION_BY_NUM — the repartition
    flavor AQE is forbidden to byte-coalesce."""
    from vstream_spark.operators.util import explicit_width
    from vstream_spark.sources.tables import load_table

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF, "documents").select("doc_id", "lang")

    # default: full parallelism on the key
    w = explicit_width(docs, "doc_id")
    assert w.rdd.getNumPartitions() == par
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan and "hashpartitioning(doc_id" in plan

    # caller-known rows: ceil(n/rows_per_task) clamped to [1, par]
    assert (
        explicit_width(docs, "doc_id", n_rows=4001, rows_per_task=2000)
        .rdd.getNumPartitions()
        == 3
    )
    assert (
        explicit_width(docs, "doc_id", n_rows=10, rows_per_task=2000)
        .rdd.getNumPartitions()
        == 1
    )
    assert (
        explicit_width(docs, "doc_id", n_rows=10**9, rows_per_task=2000)
        .rdd.getNumPartitions()
        == par
    )

    # plan-stats sizing (parquet scan: size known, no job) stays in bounds
    w2 = explicit_width(docs, "doc_id", rows_per_task=2000)
    assert 1 <= w2.rdd.getNumPartitions() <= par

    # RDD-backed input without stats: falls back to full parallelism
    rdd_df = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    rdd_df = rdd_df.rdd.toDF()  # strip local-relation stats
    assert (
        explicit_width(rdd_df, "doc_id", rows_per_task=2000)
        .rdd.getNumPartitions()
        == par
    )


def test_explicit_width_guard_adopted_at_trap_sites(spark):
    """Each historical AQE byte-coalesce trap site routes through the shared
    guard and shows an explicit (REPARTITION_BY_NUM) hash exchange on its
    grouping key ahead of the Python/pair-quadratic stage."""
    from vstream_spark.queries import REGISTRY

    for name, key in [
        # ngram's width is row-sized: at sf0.001 it computes 1 and renders
        # as "Exchange SinglePartition, REPARTITION_BY_NUM" (still exempt
        # from AQE coalescing) — so only the flavor is asserted there
        ("dedup_ngram_jaccard", None),
        ("dedup_semantic", "hashpartitioning(cluster_id"),
        ("similarity_join_lsh", "hashpartitioning(partition_id"),
    ]:
        fn, _ = REGISTRY[name]
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" in plan, name
        if key is not None:
            assert key in plan, name
