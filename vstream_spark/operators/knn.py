"""Exact top-k nearest-neighbor search as DataFrame composition.

This is the engine's ground-truth search path (SURVEY §7 Stage 1): the Spark
re-expression of the reference's end-to-end semantics —

* W3 search (``RocksDBKeyedProcessFunction.search:81-141``): top-k by ascending
  distance with a freshness filter ``vector.event_time >= query.event_time -
  query.ttl`` (``FilterSeqTs``, ``hnswlib.h:135-146``; memtable skip
  ``memtable.cc:1283-1288``).
* W2 delete (``RocksDBKeyedProcessFunction.delete:69-79``): a delete marker
  tombstones an id; last-writer-wins on ``(id, event_time)``
  (``VectorKeyedDataProcessFunction.performLocalDeletes:86-96`` — delete wins
  only if its event_time is later than the insert's).
* M1/M2 result semantics (``SearchResult.combine``, ``SearchResult.java:
  143-183``): ascending distance, ties broken by smaller id, duplicate ids
  dropped, cut to k.

Plan shape: broadcast the (small) query side into a Nested-Loop-Join —
distance evaluation stays inside whole-stage codegen — then a window top-k per
query. At 100 TB the scan side is the big vector table; the only shuffle is
the final per-qid top-k, whose input is already reduced to candidates. For
huge query sets use knn_partitioned (LSH pruning) instead of this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from vstream_spark.functions.distance import distance_expr


def newest_per_id(rows: DataFrame) -> DataFrame:
    """Each id's newest row (last-writer-wins, the engine's one LWW window):
    the latest ``event_time`` wins, and at an equal time an insert wins
    over a delete marker (reference ``performLocalDeletes:86-96``). Two
    rows still tied — the same id, time and op, which no store this engine
    writes holds — resolve by an xxhash64 of their columns, so the pick is
    deterministic and attempt-stable. Map-typed columns are left out of
    the hash (Spark cannot hash them)."""
    tie_cols = [f.name for f in rows.schema.fields if not isinstance(f.dataType, MapType)]
    w = Window.partitionBy("id").orderBy(
        F.col("event_time").desc(),
        (F.col("op") == "I").desc(),
        F.xxhash64(*[F.col(c) for c in tie_cols]).asc(),
    )
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_deletes(vectors: DataFrame, as_of: int | None = None) -> DataFrame:
    """Resolve insert/delete markers to the live set: ``vectors`` (id, emb,
    event_time, ttl, op 'I'/'D') as of ``as_of`` if given, each id's newest
    row (:func:`newest_per_id`) where that row is an insert."""
    if as_of is not None:
        vectors = vectors.filter(F.col("event_time") <= F.lit(as_of))
    return newest_per_id(vectors).filter(F.col("op") == "I")


def ttl_filter(vectors: DataFrame, query_event_time, query_ttl) -> DataFrame:
    """Freshness predicate: event_time in [q.event_time - q.ttl, q.event_time]."""
    return vectors.filter(
        (F.col("event_time") >= query_event_time - query_ttl)
        & (F.col("event_time") <= query_event_time)
    )


def derive_k_cap(queries: DataFrame, k_col: str = "k") -> int:
    """Static upper bound of a per-query ``k`` column: one ``max()`` agg on
    the (small) QUERY side. Auto-derivation exists because a per-query-k
    rank filter without a literal cap defeats Catalyst's WindowGroupLimit
    pushdown, so every scored row (Q x N on the exact path) reaches the
    top-k sort/exchange — the sf1 rehearsal measured that plan at 62x wall
    time on 10x data. One tiny aggregation job beats a quadratic window;
    callers that know their bound statically pass ``k_cap`` and skip the
    job entirely."""
    mk = queries.agg(F.max(F.col(k_col)).alias("_mk")).first()["_mk"]
    return int(mk) if mk is not None else 1


def topk(
    scored: DataFrame,
    k,
    qid_col: str = "qid",
    dist_col: str = "distance",
    id_col: str = "neighbor_id",
    dedup: bool = True,
    k_cap: int | None = None,
) -> DataFrame:
    """Window top-k with the reference's merge semantics (M1/M2):
    ascending distance, id tiebreak, dedup by id, rank 1..k.

    ``dedup=False`` skips the duplicate-id window (one whole sort+exchange)
    when the caller guarantees unique (qid, id) pairs — true for any
    non-replicated path (exact search, single-family partitioning).

    ``k_cap`` matters when ``k`` is a per-query COLUMN: a non-literal rank
    filter defeats Catalyst's WindowGroupLimit pushdown, so every scored
    row (Q x N on the exact path) reaches the sort/exchange — the sf1
    rehearsal measured 62x on a 10x input for exactly this plan. Passing
    the static upper bound of the k column restores the pushdown: rows are
    first cut to ``k_cap`` per qid map-side (literal filter), then trimmed
    to each query's own k. Results are identical whenever ``k <= k_cap``.
    """
    rank_w = Window.partitionBy(qid_col).orderBy(F.col(dist_col).asc(), F.col(id_col).asc())
    out = scored
    if dedup:
        dedup_w = Window.partitionBy(qid_col, id_col).orderBy(F.col(dist_col).asc())
        out = (
            out.withColumn("_dup", F.row_number().over(dedup_w))
            .filter(F.col("_dup") == 1)
            .drop("_dup")
        )
    out = out.withColumn("rank", F.row_number().over(rank_w))
    if isinstance(k, int):
        return out.filter(F.col("rank") <= F.lit(k))
    if k_cap is not None:
        # literal first (WindowGroupLimit fires), per-query second
        out = out.filter(F.col("rank") <= F.lit(int(k_cap)))
    return out.filter(F.col("rank") <= k)


def knn_exact(
    vectors: DataFrame,
    queries: DataFrame,
    k: int | None = None,
    metric: str = "l2",
    honor_ttl: bool = False,
    honor_deletes: bool = False,
    k_cap: int | None = None,
) -> DataFrame:
    """Brute-force exact kNN: queries x vectors -> (qid, neighbor_id, distance, rank).

    ``vectors``: id, emb [, event_time, ttl, op]; ``queries``: qid, emb
    [, event_time, ttl, k]. If ``k`` is None each query's own ``k`` column is
    used (per-query k, reference ``vector_options.h:79-95``); ``k_cap`` is
    its static upper bound (keeps the rank cut map-side — see ``topk``) and
    is derived with one small agg on the query side when not supplied.

    The query side is broadcast (queries are the small side by construction —
    reference fan-out is query-replicated too, P1-P5), so the big vector table
    never shuffles for the join; the only exchanges are the top-k window over
    candidate rows and, when the vector side arrives under-partitioned, one
    widening repartition (see below).
    """
    live = apply_deletes(vectors) if honor_deletes else vectors
    # BNLJ parallelism trap (same fix as similarity_join_exact): the streamed
    # side's task count drives the O(N x Q) pair loop, and a small-file scan
    # (1-2 input splits) serializes it onto one task. Widen to the cluster
    # when under-partitioned — a no-op on genuinely large inputs, which
    # already carry enough splits.
    par = live.sparkSession.sparkContext.defaultParallelism
    if live.rdd.getNumPartitions() < par:
        live = live.repartition(par)
    q = queries
    sel_v = [F.col("v.id").alias("neighbor_id"), F.col("v.emb").alias("_vemb")]
    sel_q = [F.col("q.qid"), F.col("q.emb").alias("_qemb")]
    if metric == "cosine":
        # pre-compute per-side norms so each pair evaluates ONE fold (the
        # dot product) instead of five — same float ops, same results, the
        # norms are just hoisted out of the O(Q x N) loop
        from vstream_spark.functions.distance import norm as _norm

        live = live.withColumn("_vnorm", _norm(F.col("emb")))
        q = q.withColumn("_qnorm", _norm(F.col("emb")))
        sel_v.append(F.col("v._vnorm"))
        sel_q.append(F.col("q._qnorm"))
    join_cond = F.lit(True)
    if honor_ttl:
        join_cond = (F.col("v.event_time") >= F.col("q.event_time") - F.col("q.ttl")) & (
            F.col("v.event_time") <= F.col("q.event_time")
        )
    pairs = live.alias("v").join(F.broadcast(q.alias("q")), join_cond, "inner")
    if k is None:
        sel_q.append(F.col("q.k").alias("_k"))
    scored = pairs.select(*sel_q, *sel_v)
    if metric == "cosine":
        from vstream_spark.functions.distance import dot as _dot

        denom = F.col("_qnorm") * F.col("_vnorm")
        scored = scored.withColumn(
            "distance",
            F.lit(1.0)
            - F.when(
                denom != 0.0, _dot(F.col("_qemb"), F.col("_vemb")) / denom
            ).otherwise(F.lit(0.0)),
        )
    else:
        scored = scored.withColumn(
            "distance", distance_expr(F.col("_qemb"), F.col("_vemb"), metric)
        )
    kk = F.col("_k") if k is None else k
    if k is None and k_cap is None:
        k_cap = derive_k_cap(queries)
    # vectors carry unique ids post-dedup -> (qid, id) pairs are unique; skip
    # the duplicate-elimination window (saves a sort+exchange on Q x N rows)
    return topk(scored, kk, dedup=False, k_cap=k_cap).select(
        "qid", "neighbor_id", "distance", "rank"
    )
