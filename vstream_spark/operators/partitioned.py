"""Partitioned kNN pipeline: exchange -> per-partition search -> global merge.

This is the Spark re-expression of the reference's core dataflow
(``VStreamSearchJob.java:21-49``; SURVEY §3.1): vectors and queries are routed
by a partitioner (§2.3), each partition searches its local shard (§2.4 W1-W5),
and per-partition top-k results are merged into global top-k per query (§2.5
M1; a batch merge is complete by construction, so the reference's
``num_partitions_sent`` emit gate, ``PartitionedQuery.java:7-28``, has no
counterpart here).

Two search paths:

* **exact JVM path** (``knn_partitioned``): after co-partitioning, the
  vector×query pairing is a co-located shuffle hash join on ``partition_id``
  and distance evaluation stays in whole-stage codegen — bit-identical to
  ``knn_exact`` when the partitioner fans queries out to all data-bearing
  partitions (the ``simple`` partitioner, P1). With an LSH partitioner the
  same plan performs *partition-pruned approximate* search: each query visits
  only its LSH partitions (O1).

* **numpy worker path** (``knn_partitioned_worker``): cogrouped
  ``applyInPandas`` — one Arrow batch per partition holding its vector shard
  and routed queries; an exact flat scan inside (``knn_exact``'s distances,
  bit for bit), or with ``index_conf`` a per-partition index of any kind
  (``index.KINDS``), all scored by ``index.distance``; at
  100 TB the shard is index-backed and only (qid, id, dist) rows leave the
  executor.

The merge is the window top-k of operators.knn.topk — ascending distance, id
tiebreak, dedup by id (replicated data under k1>1 families produces duplicate
candidates; M1 dedups them, ``SearchResult.combine:143-183``).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vstream_spark.config import PartitionerConf, VectorIndexConf
from vstream_spark.functions.distance import distance_expr
from vstream_spark.index import build_from_conf
from vstream_spark.index.distance import rescore
from vstream_spark.index.flat import build_flat
from vstream_spark.operators.knn import apply_deletes, derive_k_cap, topk
from vstream_spark.partitioners.dispatch import fit_partitioner


def knn_partitioned(
    vectors: DataFrame,
    queries: DataFrame,
    conf: PartitionerConf,
    k: int | None = 10,
    metric: str = "l2",
    honor_deletes: bool = False,
    honor_ttl: bool = False,
    k_cap: int | None = None,
) -> DataFrame:
    """Exchange + co-located join + merge, all JVM-side.

    Returns (qid, neighbor_id, distance, rank). Exact iff the partitioner
    routes every query to every partition holding candidate data ('simple');
    approximate (partition-pruned) for LSH partitioners. ``k=None`` uses
    each query's own ``k`` column (per-query k parity) — pass
    ``k_cap`` (a static upper bound on that column) so the rank cut stays
    map-side; see ``topk`` for why the dynamic filter alone is a scale trap.
    """
    per_query_k = k is None
    if per_query_k and "k" not in queries.columns:
        raise ValueError("k=None requires a 'k' column on the query side")
    live = apply_deletes(vectors) if honor_deletes else vectors
    part = fit_partitioner(conf, live)
    pv = part.partition_data(live)  # adds partition_id (maybe replicated rows)
    pq = part.partition_queries(queries)  # adds partition_id fan-out
    # Co-located pairing: shuffle both sides once on partition_id. The
    # partition_id equi-key makes this a hash join, not a cross join.
    #
    # Parallelism salt: the join's task fan-out is bounded by the number of
    # DISTINCT partition_id values, not by shuffle partitions — with
    # num_partitions=8 on a 32-way cluster, 3/4 of the cores idle while the
    # O(N x Q) distance projection runs in the join stage (measured 71x at
    # 10x data in the r8 sf1 rehearsal). Sub-split each logical partition by
    # an id-hash salt and fan queries out across the salts: the composite
    # (partition_id, _salt) key restores full task fan-out while each (q, v)
    # pair still meets exactly once, so results are bit-identical.
    n_parts = max(1, int(getattr(conf, "num_partitions", 1) or 1))
    par = live.sparkSession.sparkContext.defaultParallelism
    n_salts = max(1, -(-par // n_parts))  # ceil
    if n_salts > 1:
        pv = pv.withColumn("_salt", F.pmod(F.hash(F.col("id")), F.lit(n_salts)))
        pq = pq.withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
        )
    # The salt only fans out SHUFFLE joins. When one side is small enough to
    # broadcast, the join runs on the OTHER side's input splits — and a
    # small/medium parquet scan is 1-2 splits, which serializes the O(N x Q)
    # distance projection + partial top-k onto 1-2 tasks regardless of salts
    # (r9 sf1 lane: 180s where the brute-force floor with this exact guard
    # ran 5.98s). Catalyst may build EITHER side (it broadcast the 20k x
    # 64-float VECTOR table at sf1 — under the 10 MB threshold — and
    # streamed the query fan-out on 2 scan splits: >10 min for a 25s job),
    # so widen both; whichever ends up streamed carries the pair loop, and
    # the widening exchange on the broadcast side is a trivially small
    # shuffle. A 100 TB-scale table is already many-splitted and skips this.
    if pv.rdd.getNumPartitions() < par:
        pv = pv.repartition(par)
    if pq.rdd.getNumPartitions() < par:
        pq = pq.repartition(par)
    cond = F.col("v.partition_id") == F.col("q.partition_id")
    if n_salts > 1:
        cond = cond & (F.col("v._salt") == F.col("q._salt"))
    if honor_ttl:
        cond = cond & (
            (F.col("v.event_time") >= F.col("q.event_time") - F.col("q.ttl"))
            & (F.col("v.event_time") <= F.col("q.event_time"))
        )
    pairs = pv.alias("v").join(pq.alias("q"), cond, "inner")
    scored = pairs.select(
        F.col("q.qid").alias("qid"),
        F.col("v.id").alias("neighbor_id"),
        distance_expr(F.col("q.emb"), F.col("v.emb"), metric).alias("distance"),
        *([F.col("q.k").alias("q_k")] if per_query_k else []),
    )
    # Single-assignment partitioners (simple, k1=1 LSH, odyssey's
    # one-member-per-group routing) can never produce duplicate (qid, id)
    # candidates, so the M1 dedup window — a full sort+exchange over ALL
    # scored rows, Q x N on the exact path — is skipped. At sf1 that window
    # dominated knn_partitioned (the scored set hit 200M rows).
    # Precondition for the skip: vector ids are unique in `live`. With
    # honor_deletes=True apply_deletes guarantees it (LWW keeps one row per
    # id); with honor_deletes=False a table carrying upsert/version history
    # ('op' column) may hold several rows per id, which id-hash routing
    # sends to the SAME partition — so the dedup window is forced back on
    # rather than letting stale versions occupy rank slots (r7 ADVICE #4).
    dedup = part.merge_needs_dedup
    if not honor_deletes and "op" in vectors.columns:
        dedup = True
    if per_query_k:
        if k_cap is None:
            # r7 VERDICT #5: a k column without a static cap silently got
            # the WindowGroupLimit-defeating plan (62x at sf1). One tiny
            # max(k) agg on the query side closes the trap.
            k_cap = derive_k_cap(queries)
        return topk(scored, F.col("q_k"), k_cap=k_cap, dedup=dedup).select(
            "qid", "neighbor_id", "distance", "rank"
        )
    return topk(scored, k, dedup=dedup).select("qid", "neighbor_id", "distance", "rank")


def knn_partitioned_worker(
    vectors: DataFrame,
    queries: DataFrame,
    conf: PartitionerConf,
    k: int | None = 10,
    metric: str = "l2",
    honor_deletes: bool = False,
    index_conf: "VectorIndexConf | None" = None,
) -> DataFrame:
    """Cogrouped-pandas per-partition worker (the W1-W5 analog).

    Each group = one partition's vector shard + the queries routed to it;
    the worker builds a local structure and emits per-partition top-k.
    ``k=None`` uses each query's own ``k`` column (per-query k, the
    reference's per-query search option): workers search at the group's
    max k and the global merge trims each query to its own.
    ``index_conf``: if set, a per-partition index (kind per
    ``index_conf.index_kind``) is built and searched with ef_search — the
    reference's W1/W5 worker structure
    (HnswLibKeyedProcessFunction.java:19-101), at ``metric``: an operator
    like ``knn_exact`` persists no artifact, so ``metric`` overrides
    ``index_conf.metric``.

    Per-query search options travel as QUERY COLUMNS (the reference attaches
    its search options to each query record, ``vector_options.h:79-95``):
    ``k`` (with ``k=None``) and — when ``index_conf`` is set — an optional
    ``ef_search`` column overriding ``index_conf.ef_search`` per query
    (interpreted as nprobe by IVF workers, ignored by PQ's full ADC scan).
    """
    per_query_k = k is None
    if per_query_k and "k" not in queries.columns:
        raise ValueError("k=None requires a 'k' column on the query side")
    per_query_ef = index_conf is not None and "ef_search" in queries.columns
    if index_conf is not None:
        index_conf = replace(index_conf, metric=metric)
    live = apply_deletes(vectors) if honor_deletes else vectors
    part = fit_partitioner(conf, live)
    pv = part.partition_data(live).select("partition_id", "id", "emb")
    q_cols = (
        ["partition_id", "qid", "emb"]
        + (["k"] if per_query_k else [])
        + (["ef_search"] if per_query_ef else [])
    )
    pq = part.partition_queries(queries).select(*q_cols)

    empty_cols = {"qid": "int64", "neighbor_id": "int64", "distance": "float64"}
    if per_query_k:
        empty_cols["q_k"] = "int64"

    def search(vdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if len(vdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({c: [] for c in empty_cols}).astype(empty_cols)
        vmat = np.stack(vdf["emb"].to_numpy()).astype(np.float64)
        qmat = np.stack(qdf["emb"].to_numpy()).astype(np.float64)
        vids = vdf["id"].to_numpy(np.int64)
        qids = qdf["qid"].to_numpy(np.int64)
        kk = int(qdf["k"].max()) if per_query_k else k
        if index_conf is None:
            kind, idx = "flat", build_flat(vmat, vids, metric=metric)
        else:
            kind, idx = build_from_conf(vmat, vids, index_conf)
        # PQ: over-fetch ADC candidates and rescore them EXACTLY against
        # the partition's float block (present in this worker anyway) —
        # the faiss refine pattern; ADC alone loses recall as shard
        # density grows and quantization error spans true neighbor gaps
        fetch_k = min(max(1, index_conf.pq_refine) * kk, len(vids)) if kind == "pq" else kk
        if per_query_ef:
            efs = qdf["ef_search"].to_numpy().astype(np.int64)
            res = [
                idx.search(qmat[j], fetch_k, max(int(efs[j]), fetch_k))
                for j in range(len(qmat))
            ]
        else:
            ef = index_conf.ef_search if index_conf is not None else 0
            res = idx.search_batch(qmat, fetch_k, max(ef, fetch_k))
        if kind == "pq":
            qi = np.repeat(np.arange(len(qmat)), [len(lbs) for lbs, _ in res])
            lbs = np.concatenate([lbs for lbs, _ in res])
            by_id = np.argsort(vids, kind="stable")
            rows = by_id[np.searchsorted(vids, lbs, sorter=by_id)]
            res = rescore(qmat, vmat, vids, qi, rows, kk, metric)
        lens = [len(lbs) for lbs, _ in res]
        out = pd.DataFrame({
            "qid": np.repeat(qids, lens),
            "neighbor_id": np.concatenate([lbs for lbs, _ in res]).astype(np.int64),
            "distance": np.concatenate([ds for _, ds in res]).astype(np.float64),
        })
        if per_query_k:
            kmap = dict(zip(qdf["qid"].astype("int64"), qdf["k"].astype("int64")))
            out["q_k"] = out["qid"].map(kmap).astype("int64")
        return out

    schema = "qid BIGINT, neighbor_id BIGINT, distance DOUBLE" + (
        ", q_k BIGINT" if per_query_k else ""
    )
    results = (
        pv.groupBy("partition_id")
        .cogroup(pq.groupBy("partition_id"))
        .applyInPandas(search, schema=schema)
    )
    # same single-assignment shortcut as knn_partitioned; the worker path's
    # merge input is already cut to k per partition, but skipping the dedup
    # window still removes one sort+exchange over partitions x Q x k rows
    dedup = part.merge_needs_dedup
    if per_query_k:
        # merge input is bounded (partitions x k per query), but the cap
        # still lets WindowGroupLimit cut map-side before the final sort
        return topk(
            results, F.col("q_k"), k_cap=derive_k_cap(queries), dedup=dedup
        ).select("qid", "neighbor_id", "distance", "rank")
    return topk(results, k, dedup=dedup).select("qid", "neighbor_id", "distance", "rank")
