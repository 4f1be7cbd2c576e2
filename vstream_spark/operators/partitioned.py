"""Partitioned kNN pipeline: exchange -> per-partition search -> global merge.

This is the Spark re-expression of the reference's core dataflow
(``VStreamSearchJob.java:21-49``; SURVEY §3.1): vectors and queries are routed
by a partitioner (§2.3), each partition searches its local shard (§2.4 W1-W5),
and per-partition top-k results are merged into global top-k per query (§2.5
M1, completeness via ``num_partitions_sent``, ``PartitionedQuery.java:7-28``).

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
  and routed queries; vectorized brute-force top-k inside, or with
  ``index_conf`` a per-partition index of any kind (``index.KINDS``); at
  100 TB the shard is index-backed and only (qid, id, dist) rows leave the
  executor.

The merge is the window top-k of operators.knn.topk — ascending distance, id
tiebreak, dedup by id (replicated data under k1>1 families produces duplicate
candidates; M1 dedups them, ``SearchResult.combine:143-183``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vstream_spark.config import PartitionerConf, VectorIndexConf
from vstream_spark.functions.distance import distance_expr
from vstream_spark.index import build_from_conf
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
    (HnswLibKeyedProcessFunction.java:19-101).

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
        vids = vdf["id"].to_numpy()
        qids = qdf["qid"].to_numpy()
        if index_conf is not None:
            kind, idx = build_from_conf(vmat, vids, index_conf, metric)
            kk = int(qdf["k"].max()) if per_query_k else k
            # PQ: over-fetch ADC candidates and rescore them EXACTLY against
            # the partition's float block (present in this worker anyway) —
            # the faiss refine pattern; ADC alone loses recall as shard
            # density grows and quantization error spans true neighbor gaps
            fetch_k = kk
            if kind == "pq":
                fetch_k = min(max(1, index_conf.pq_refine) * kk, len(vids))
                row_of = {int(lb): i for i, lb in enumerate(vids)}
            efs = (
                qdf["ef_search"].to_numpy().astype(np.int64)
                if per_query_ef
                else None
            )
            out_qid, out_id, out_dist = [], [], []
            for qi in range(len(qmat)):
                ef_q = int(efs[qi]) if efs is not None else index_conf.ef_search
                lbs, ds = idx.search(qmat[qi], fetch_k, max(ef_q, fetch_k))
                if kind == "pq" and len(lbs):
                    rows = np.fromiter((row_of[int(l)] for l in lbs), dtype=np.int64)
                    sub = vmat[rows]
                    qv = qmat[qi]
                    if metric == "ip":
                        ex = 1.0 - sub @ qv
                    elif metric == "cosine":
                        denom = np.linalg.norm(sub, axis=1) * np.linalg.norm(qv)
                        with np.errstate(divide="ignore", invalid="ignore"):
                            ex = 1.0 - np.where(denom > 0, (sub @ qv) / denom, 0.0)
                    else:
                        diff = sub - qv
                        ex = (diff * diff).sum(axis=1)
                    order = np.lexsort((lbs, ex))[:kk]
                    lbs, ds = lbs[order], ex[order]
                out_qid.extend([qids[qi]] * len(lbs))
                out_id.extend(lbs)
                out_dist.extend(ds)
        else:
            kk = int(qdf["k"].max()) if per_query_k else k
            out_qid, out_id, out_dist = _local_topk(vmat, qmat, vids, qids, kk, metric)
        out = pd.DataFrame({"qid": out_qid, "neighbor_id": out_id, "distance": out_dist})
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


def _pairwise_dist(vmat: np.ndarray, qmat: np.ndarray, metric: str) -> np.ndarray:
    """(Q, N) distance matrix, vectorized."""
    if metric == "l2":
        # ||q||^2 - 2 q.v + ||v||^2
        d = (
            (qmat * qmat).sum(axis=1)[:, None]
            - 2.0 * (qmat @ vmat.T)
            + (vmat * vmat).sum(axis=1)[None, :]
        )
        return np.maximum(d, 0.0)
    if metric == "ip":
        return 1.0 - qmat @ vmat.T
    if metric == "cosine":
        qn = np.linalg.norm(qmat, axis=1, keepdims=True)
        vn = np.linalg.norm(vmat, axis=1, keepdims=True)
        return 1.0 - (qmat @ vmat.T) / (qn * vn.T)
    raise ValueError(f"unknown metric {metric!r}")


def _topk_rows(dist_row: np.ndarray, vids: np.ndarray, k: int):
    """Indices of the k smallest distances, ties by smaller id (M1 tiebreak)."""
    kk = min(k, len(dist_row))
    idx = np.lexsort((vids, dist_row))[:kk]
    return idx


def _local_topk(vmat, qmat, vids, qids, k, metric):
    out_qid: list[int] = []
    out_id: list[int] = []
    out_dist: list[float] = []
    dmat = _pairwise_dist(vmat, qmat, metric)
    for qi in range(len(qmat)):
        sel = _topk_rows(dmat[qi], vids, k)
        out_qid.extend([qids[qi]] * len(sel))
        out_id.extend(vids[sel])
        out_dist.extend(dmat[qi][sel])
    return out_qid, out_id, out_dist


def partial_results_complete(
    partials: DataFrame, partitioned_queries: DataFrame
) -> DataFrame:
    """M1 completeness accounting (``PartialResultProcessFunction.isComplete``,
    ``SearchResult.java:10-53``): a query's merged result is COMPLETE when
    results have arrived from every partition it was fanned out to
    (``num_partitions_sent``). Batch execution is trivially complete; in
    incremental/streaming merges this is the emit gate.

    ``partials``: (qid, partition_id, ...) per-partition result rows.
    ``partitioned_queries``: the fan-out frame carrying num_partitions_sent.
    Returns (qid, num_partitions_combined, num_partitions_sent, is_complete).
    """
    seen = partials.select("qid", "partition_id").distinct().groupBy("qid").agg(
        F.count("*").alias("num_partitions_combined")
    )
    sent = partitioned_queries.select("qid", "num_partitions_sent").distinct()
    return (
        sent.join(seen, "qid", "left")
        .select(
            "qid",
            F.coalesce("num_partitions_combined", F.lit(0)).alias(
                "num_partitions_combined"
            ),
            "num_partitions_sent",
            (
                F.coalesce("num_partitions_combined", F.lit(0))
                == F.col("num_partitions_sent")
            ).alias("is_complete"),
        )
    )
