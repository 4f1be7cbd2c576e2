"""Selectivity-adaptive filtered vector search (pre-filter vs post-filter).

Attribute-filtered kNN ("find the k nearest neighbors WHERE <predicate>")
has two classic physical plans, and the right one depends entirely on the
predicate's selectivity:

- **pre-filter**: apply the predicate FIRST, then search only the
  survivors. Exact by construction. Wins when the predicate is selective —
  the candidate set is small, the filter pushes into the parquet scan
  (Catalyst `PushedFilters`), and non-matching vectors are never even
  loaded. Degenerates at weak predicates: you paid for an index over the
  full set and then brute-scan most of it anyway.
- **post-filter**: search the (index-backed) FULL set for an oversampled
  k' = k * oversample / selectivity, then drop non-matching hits and keep
  k. Wins when the predicate is weak — the index does the heavy lifting
  and only ~k'/selectivity hits are filtered. Degenerates at selective
  predicates: k' explodes (k' -> N as selectivity -> 0) and most fetched
  candidates are discarded.

This operator routes between the two on a measured selectivity, the
adaptive strategy production vector stores converge on (pre- vs
post-filtering is the standard trade-off discussed in the public Milvus /
Qdrant / Weaviate filtered-search literature). Reference parity: the
reference's per-segment search is always predicate-aware — its HNSW reader
threads a timestamp/tombstone filter through graph traversal
(`hnsw_table_reader.cc:1653-1738`, the ts-filtered search of SURVEY §2.6
C1) — and per-query search options travel on the query record
(`vector_options.h:79-95`). The routing itself is the Spark-native
extension: Catalyst pushes the pre-filter into the scan, and the
post-filter reuses the partitioned index worker (W1/W5).

Scale posture (100 TB): the selectivity probe is ONE map-side-combined
aggregation over the predicate column only (column-pruned scan — the
embedding column is not read); on a real deployment it would come free
from catalog statistics (ANALYZE) or a sample. Both branches are the
already-scale-audited operators: `knn_exact` (broadcast-query BNLJ, the
big side never shuffles) and `knn_partitioned_worker` (cogrouped
per-partition index search). The post-filter re-check joins the
(|Q| x k')-row result — small by construction — against the id set, never
the reverse.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vstream_spark.config import PartitionerConf, VectorIndexConf
from vstream_spark.operators.knn import knn_exact, topk

__all__ = [
    "compute_k_over",
    "knn_filtered_adaptive",
    "probe_selectivity",
    "recheck_and_escalate",
    "route_strategy",
    "validate_force_strategy",
]


def validate_force_strategy(
    force_strategy: str | None,
    allowed: tuple[str, ...] = ("pre_filter", "post_filter"),
) -> None:
    """A typo ('prefilter') must fail loudly, not silently run post_filter
    while reporting the bogus string as the chosen strategy (ADVICE r11).
    Shared by the operator and the SegmentSearcher store path so the two
    routing surfaces cannot drift; the store path additionally allows
    'in_index' (its segments persist the attribute columns the in-traversal
    allowlist is built from — the rebuild-per-call operator has no such
    persisted surface)."""
    if force_strategy is not None and force_strategy not in allowed:
        raise ValueError(
            f"force_strategy must be one of {allowed}, got {force_strategy!r}"
        )


def compute_k_over(
    k: int,
    oversample: float,
    selectivity: float,
    n_total: int,
    max_oversample_k: int | None = None,
) -> int:
    """Oversampled candidate depth k' = ceil(k * oversample / selectivity),
    clamped to [k, n_total] and optionally to ``max_oversample_k``. The cap
    bounds the |Q| x k' candidate materialization when a caller FORCES
    post_filter on a near-empty predicate (selectivity -> 1/N drives k' ->
    N); capping never makes the answer wrong — queries left under k matches
    escalate per-query to the exact branch either way, the cap only makes
    escalation more frequent."""
    sel = max(selectivity, 1.0 / max(n_total, 1))
    k_over = int(min(max(k, math.ceil(k * oversample / sel)), n_total))
    if max_oversample_k is not None:
        k_over = max(k, min(k_over, max_oversample_k))
    return k_over


def probe_selectivity(
    vectors: DataFrame, predicate: Column, predicate_expr: str | None = None
) -> tuple[int, float]:
    """The selectivity probe: ``(rows, fraction matching predicate)`` from
    ONE column-pruned aggregation (the embedding column is not read).

    With a ``predicate_expr`` hint, the same scan also enforces the
    implication predicate => hint: a matching row whose hint is false or
    NULL would be invisible to an allowlist built from the hint, so any
    such row raises instead of silently under-filling a query's k."""
    aggs = [F.count(F.lit(1)).alias("n"), F.count_if(predicate).alias("m")]
    if predicate_expr is not None:
        aggs.append(
            F.count_if(
                predicate & ~F.coalesce(F.expr(predicate_expr), F.lit(False))
            ).alias("viol")
        )
    row = vectors.select(*aggs).first()
    if predicate_expr is not None and row["viol"]:
        raise ValueError(
            f"predicate_expr {predicate_expr!r} is not implied by "
            f"the predicate: {row['viol']} matching rows fail it — "
            "the in-index allowlist would silently exclude them. "
            "Pass an equal-or-weaker SQL hint (or none, to use the "
            "oversampled post_filter branch)."
        )
    return row["n"], (row["m"] / row["n"]) if row["n"] else 0.0


def route_strategy(
    selectivity: float,
    selectivity_threshold: float,
    force_strategy: str | None,
    index_strategy: str,
) -> str:
    """The routing rule: ``selectivity <= selectivity_threshold`` goes to
    the exact ``pre_filter`` scan, anything weaker to ``index_strategy``
    (the caller's index-backed branch); a forced strategy wins."""
    if force_strategy is not None:
        return force_strategy
    return "pre_filter" if selectivity <= selectivity_threshold else index_strategy


def knn_filtered_adaptive(
    vectors: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int = 10,
    metric: str = "l2",
    selectivity_threshold: float = 0.25,
    oversample: float = 2.0,
    index_conf: VectorIndexConf | None = None,
    num_partitions: int = 4,
    force_strategy: str | None = None,
) -> tuple[DataFrame, str, float]:
    """Filtered kNN with selectivity-based plan routing.

    ``vectors``: id, emb, plus whatever columns ``predicate`` references;
    ``queries``: qid, emb. Returns ``(result, strategy, selectivity)``
    where ``result`` has the standard (qid, neighbor_id, distance, rank)
    shape, ``strategy`` is ``'pre_filter'`` or ``'post_filter'`` and
    ``selectivity`` the measured match fraction.

    - selectivity <= ``selectivity_threshold``: **pre_filter** — exact
      brute search over the survivors only (`knn_exact`); the predicate
      lands before the distance join so Catalyst pushes it into the scan.
    - otherwise: **post_filter** — index-backed partitioned search
      (`knn_partitioned_worker`, ``index_conf`` or HNSW defaults) for
      ``k' = ceil(k * oversample / selectivity)`` candidates per query,
      then the predicate is re-checked on the hits and each query keeps
      its k best. A query retaining >= k matches inside an exact top-k'
      is provably exact; queries below k matches escalate per-query to
      the pre-filter branch, so the only approximation left is the
      index's own recall (gate-checked by ``knn_filtered_route_gate``).

    ``force_strategy`` bypasses the probe (used by the gate to check that
    BOTH branches agree on the same predicate — routing must change the
    plan, not the answer). Like ``knn_exact``, this operator persists no
    artifact, so ``metric`` is its own and both branches score at it: the
    post-filter index builds at ``replace(index_conf, metric=metric)``.
    """
    from vstream_spark.operators.partitioned import knn_partitioned_worker

    validate_force_strategy(force_strategy)

    pred_vectors = vectors.filter(predicate)
    n_total, selectivity = probe_selectivity(vectors, predicate)
    strategy = route_strategy(
        selectivity, selectivity_threshold, force_strategy, "post_filter"
    )
    if strategy == "pre_filter":
        out = knn_exact(
            pred_vectors.select("id", "emb"), queries, k=k, metric=metric
        )
        return out.select("qid", "neighbor_id", "distance", "rank"), strategy, selectivity

    # post-filter: oversampled index search over the FULL set, then re-check
    k_over = compute_k_over(k, oversample, selectivity, n_total)
    iconf = index_conf or VectorIndexConf(index_kind="hnsw")
    ann = knn_partitioned_worker(
        vectors.select("id", "emb"),
        queries,
        PartitionerConf(kind="simple", num_partitions=num_partitions),
        k=k_over,
        metric=metric,
        index_conf=iconf,
    )
    out = recheck_and_escalate(ann, queries, pred_vectors, k, metric)
    return out, strategy, selectivity


def recheck_and_escalate(
    hits: DataFrame,
    queries: DataFrame,
    pred_vectors: DataFrame,
    k: int,
    metric: str,
) -> DataFrame:
    """The filtered re-check tail shared by ``knn_filtered_adaptive``'s
    post_filter branch and ``SegmentSearcher.search_filtered``'s index
    branches (one implementation, so the two cannot drift): keep the
    ``hits`` whose id matches the predicate, cut each query to its k best,
    and escalate queries left under k matches to an exact scan of
    ``pred_vectors`` (id, emb). Returns (qid, neighbor_id, distance, rank).

    A query keeping >= k matches inside its (exact) global top-k' is
    provably exact — any nearer match would itself sit in the top-k'.
    Queries below k matches (predicate locally sparse around the query
    point, or every hit tombstoned/filtered away) escalate to the exact
    branch; deficiency is counted against the FULL query frame so such a
    query escalates instead of vanishing. Cutting to k before counting
    changes nothing: min(m, k) < k exactly when m < k.

    Scale: hits are |Q| x k' rows — the SMALL side; they join the match
    ids (inner), never the reverse, so AQE broadcasts the hit side and the
    big side never shuffles. The deficient-qid set stays a DataFrame end
    to end (broadcast anti/semi joins, never a collect()+isin literal — an
    adversarial predicate could make that In-expression |Q| entries long,
    ADVICE r11); the only driver value is its COUNT.
    """
    keep = pred_vectors.select(F.col("id").alias("neighbor_id"))
    # materialize ONCE: the deficiency count below is the single action
    # over this frame, and without truncation the returned frame would
    # re-run the whole search lineage on the caller's first action.
    # localCheckpoint blocks live on executors (not fault-tolerant): an
    # executor loss fails the caller's later actions — acceptable for an
    # interactive search (re-issue the query).
    got = topk(
        hits.select("qid", "neighbor_id", "distance").join(keep, "neighbor_id"),
        k,
        dedup=False,
    ).localCheckpoint(eager=False)
    qcnt = (
        queries.select("qid")
        .join(got.groupBy("qid").agg(F.count(F.lit(1)).alias("m")), "qid", "left")
        .select("qid", F.coalesce(F.col("m"), F.lit(0)).alias("m"))
    )
    deficient = qcnt.filter(F.col("m") < k).select("qid").localCheckpoint(
        eager=False
    )
    n_deficient = deficient.count()
    out = (
        got.join(F.broadcast(deficient), "qid", "left_anti") if n_deficient else got
    ).select("qid", "neighbor_id", "distance", "rank")
    if n_deficient:
        escalated = knn_exact(
            pred_vectors.select("id", "emb"),
            queries.join(F.broadcast(deficient), "qid", "left_semi"),
            k=k,
            metric=metric,
        ).select("qid", "neighbor_id", "distance", "rank")
        out = out.unionByName(escalated)
    return out
