"""Similarity search / join over embedding columns (LLM-pipeline surface).

Generalizes the reference's query path (W3 top-k + M1 merge) to:
  * similarity_join_exact — all-pairs above a threshold (the oracle/baseline);
    the scalable path is lsh_similarity_join (bucketed candidates).
  * ann_topk_* — top-k ANN over an embedding column: brute-force baseline
    plus an IVF-probed variant (the scale path for big shards).
  * embedding near-dup — similarity join at a high threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vstream_spark.config import PartitionerConf
from vstream_spark.index.distance import fold_cos_sim
from vstream_spark.operators.partitioned import knn_partitioned_worker
from vstream_spark.operators.util import explicit_width
from vstream_spark.partitioners.dispatch import fit_partitioner


def similarity_join_exact(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine-similarity join: (id_a, id_b, cosine_sim >= threshold),
    id_a < id_b. Exact — O(N*M) distance evaluations.

    Physical plan: pure-Catalyst broadcast nested-loop join — the right side
    ships to executors as a JVM broadcast (never materialized in the Python
    driver), and the cosine is the JVM ``zip_with``/``aggregate`` left fold,
    which is bitwise-identical to the DuckDB oracle's ``list_sum``. Norms are
    projected onto each side BEFORE the join, so per-pair work is a single
    64-element dot fold inside whole-stage codegen. The right side must fit
    in executor memory (standard broadcast constraint); for two big sides use
    lsh_similarity_join."""
    from vstream_spark.functions.distance import dot, norm

    a = left.select(F.col(left_id).alias("id_a"), F.col(emb_col).alias("emb_a"))
    # the probe side drives BNLJ parallelism: a small-file scan (1-2 input
    # splits) would serialize the O(N*M) pair loop onto one task — widen it
    # to the cluster. A big left side is already many-partitioned: no-op.
    par = left.sparkSession.sparkContext.defaultParallelism
    if a.rdd.getNumPartitions() < par:
        a = a.repartition(par)
    a = a.withColumn("_na", norm(F.col("emb_a")))
    b = right.select(
        F.col(right_id).alias("id_b"), F.col(emb_col).alias("emb_b")
    ).withColumn("_nb", norm(F.col("emb_b")))
    denom = F.col("_na") * F.col("_nb")
    sim = F.when(
        denom != 0.0, dot(F.col("emb_a"), F.col("emb_b")) / denom
    ).otherwise(F.lit(0.0))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def lsh_similarity_join(
    vectors: DataFrame,
    threshold: float,
    conf: PartitionerConf | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """Self similarity-join with LSH candidate pruning: vectors only pair
    inside a shared LSH partition (with k1 families / multiprobe raising
    recall), then exact cosine verification. Approximate: may miss pairs whose
    members never co-bucket.

    Within-bucket verification is BLOCKED when needed: each over-budget bucket
    is hash-split into ceil(m / block_rows) blocks and every unordered block
    pair becomes its own ``applyInPandas`` group. One whole-bucket worker is a
    scale trap twice over — task fan-out is capped at the number of LSH
    buckets (16 keys on a 32-core cluster leaves half idle), and the O(m^2)
    numpy similarity matrix grows ~100x on 10x data (the r8 sf1 rehearsal
    measured exactly that). Block-pairing keeps the emitted pair set IDENTICAL
    (every {u, v} in a bucket meets in exactly one block-pair group; per-pair
    fold arithmetic is unchanged) while bounding worker memory at
    ~block_rows^2 and scaling task count with data. Shuffle cost: each row is
    replicated once per block of its bucket — the honest cost of distributing
    a quadratic workload.

    Bucket sizes come from a WINDOW count over the bucket key, not an
    aggregate joined back (r8 VERDICT #3: the agg+broadcast-join shape
    re-evaluated the whole bucketing lineage — LSH projections included —
    just to learn the sizes, a +65% tax at sf0.1 where every bucket fits one
    block; a driver-side collect would fix that too but runs a job at
    plan-construction time, which the dedup_embedding gate contract forbids).
    The window shares the groupBy's own hash partitioning, so the plan is ONE
    bucketing pass and two exchanges; a bucket that fits one block gets a
    1-element group array — the explode is a no-op rename, zero replication.
    Skewed inputs still fan out: only over-budget buckets pay block-pair
    replication, each becoming ~s^2/2 independent tasks."""
    conf = conf or PartitionerConf(kind="lsh", num_partitions=16, num_families=4)
    part = fit_partitioner(conf)
    df = vectors.select(F.col(id_col).alias("id"), F.col(emb_col).alias("emb"))
    # NOTE: no input repartition here (unlike similarity_join_exact's BNLJ
    # probe side) — the verify stage takes its parallelism from the groupBy
    # exchange, so widening the hashing stage only buys an extra shuffle
    bucketed = part.partition_data(df).select("partition_id", "id", "emb")
    sized = bucketed.withColumn(
        "_m", F.count("*").over(Window.partitionBy("partition_id"))
    )

    def _verify(a_ids, amat, b_ids, bmat, triangular: bool) -> pd.DataFrame:
        # folded left to right, as the JVM ``aggregate`` and DuckDB
        # ``list_sum`` sum: the same similarities bit for bit
        sim = fold_cos_sim(amat[:, None, :], bmat[None, :, :])
        if triangular:
            # each unordered pair appears once: strictly-upper by id
            ai, bi = np.where((sim >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            id_a, id_b = a_ids[ai], b_ids[bi]
        else:
            # cross-block: each unordered pair is one matrix cell — orient by
            # id (the smaller id may live in either block)
            ai, bi = np.where((sim >= threshold) & (a_ids[:, None] != b_ids[None, :]))
            id_a = np.minimum(a_ids[ai], b_ids[bi])
            id_b = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_sim": sim[ai, bi]})

    _empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
        {"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"}
    )

    n_blocks = F.greatest(
        F.lit(1), F.ceil(F.col("_m") / F.lit(block_rows))
    ).cast("int")
    blk = F.pmod(F.hash(F.col("id")), F.col("_s")).cast("int")
    # row in block b joins every group {min(b,j), max(b,j)} for j in 0.._s-1
    groups = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.col("_s") - 1),
            lambda j: F.struct(
                F.least(F.col("_blk"), j).alias("lo"),
                F.greatest(F.col("_blk"), j).alias("hi"),
            ),
        )
    )
    exploded = (
        sized.withColumn("_s", n_blocks)
        .withColumn("_blk", blk)
        .withColumn("_g", F.explode(groups))
        .select(
            "partition_id",
            F.col("_g.lo").alias("_lo"),
            F.col("_g.hi").alias("_hi"),
            "_blk",
            "id",
            "emb",
        )
    )

    def block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(key[1]), int(key[2])
        a_df = pdf[pdf["_blk"] == lo]
        b_df = pdf[pdf["_blk"] == hi] if hi != lo else a_df
        if len(a_df) == 0 or len(b_df) == 0 or len(pdf) < 2:
            return _empty
        a_ids = a_df["id"].to_numpy()
        b_ids = b_df["id"].to_numpy()
        amat = np.stack(a_df["emb"].to_numpy()).astype(np.float64)
        bmat = np.stack(b_df["emb"].to_numpy()).astype(np.float64)
        out = _verify(a_ids, amat, b_ids, bmat, triangular=hi == lo)
        return out if len(out) else _empty

    # Explicit width for the verify exchange (r9 sf1 rehearsal; now the
    # shared explicit_width guard — r10 VERDICT #2): AQE coalesces the
    # groupBy shuffle by its INPUT bytes (~70 MB of bucketed rows at sf1 ->
    # 5 partitions), but each reducer runs its block-pair groups'
    # O(block_rows^2) numpy verification SEQUENTIALLY — 5 tasks measured
    # 60s where 32-wide runs ~10s. Full width: the per-group cost is
    # pair-quadratic.
    pairs = (
        explicit_width(exploded, "partition_id", "_lo", "_hi")
        .groupBy("partition_id", "_lo", "_hi")
        .applyInPandas(
            block_pairs, schema="id_a bigint, id_b bigint, cosine_sim double"
        )
    )
    # replicated rows (k1 families / multiprobe) can emit the same pair from
    # several buckets — dedup is the M1-merge analog
    return pairs.dropDuplicates(["id_a", "id_b"])


def range_search(
    vectors: DataFrame,
    queries: DataFrame,
    radius: float,
    metric: str = "l2",
    id_col: str = "id",
    qid_col: str = "qid",
    emb_col: str = "emb",
) -> DataFrame:
    """Radius (range) search: every vector within ``radius`` of each query —
    the second core query type of a vector store next to top-k (hnswlib
    exposes the same pair of entry points). Returns (qid, neighbor_id,
    distance) with distance <= radius; result size is data-dependent, so no
    rank column.

    Plan: identical broadcast-NLJ shape as knn_exact, but the radius predicate
    replaces the top-k window — there is NO shuffle at all: the filter runs
    inside whole-stage codegen on the scan side, and at 100 TB the output per
    partition streams straight to the sink. This is strictly cheaper than
    top-k (which needs the per-qid exchange)."""
    from vstream_spark.functions.distance import distance_expr

    par = vectors.sparkSession.sparkContext.defaultParallelism
    if vectors.rdd.getNumPartitions() < par:
        # same BNLJ parallelism trap as similarity_join_exact: the streamed
        # side's splits drive the pair loop — widen under-partitioned inputs
        vectors = vectors.repartition(par)
    pairs = vectors.alias("v").join(
        F.broadcast(queries.alias("q")), F.lit(True), "inner"
    )
    return (
        pairs.select(
            F.col(f"q.{qid_col}").alias("qid"),
            F.col(f"v.{id_col}").alias("neighbor_id"),
            distance_expr(
                F.col(f"q.{emb_col}"), F.col(f"v.{emb_col}"), metric
            ).alias("distance"),
        )
        .filter(F.col("distance") <= F.lit(float(radius)))
    )


def maxsim_topk(
    query_members: DataFrame,
    doc_members: DataFrame,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT MaxSim): a query is a
    GROUP of vectors, a document is a group of vectors, and

        score(Q, D) = sum_{q in Q} max_{d in D} cos_sim(q, d)

    ``query_members``: (gid, mid, emb); ``doc_members``: (dgid, id, emb).
    Returns (gid, dgid, score, rank) — top-k doc groups per query group.

    Plan: broadcast the query members into a BNLJ (member-level sims stay in
    codegen), then TWO partial-aggregated groupBys — max over doc members,
    sum over query members — and a final per-gid top-k window. Shuffle keys
    step down (gid, mid, dgid) -> (gid, dgid) -> gid, so AQE reuses/coalesces
    the exchanges; nothing driver-side. Scores are rounded (default 6dp) on
    the SUM — cross-engine partial-agg float order differs in the last ulp
    and ranking must see identical values."""
    from pyspark.sql import Window

    from vstream_spark.functions.distance import dot, norm

    # hoist each side's norm out of the O(|Q| x |D|) pair loop: one fold per
    # pair (the dot) instead of three — identical IEEE ops and results, the
    # norms are just computed once per member instead of once per pair
    qm = query_members.withColumn("_qn", norm(F.col("emb")))
    dm = doc_members.withColumn("_dn", norm(F.col("emb")))
    par = dm.sparkSession.sparkContext.defaultParallelism
    if dm.rdd.getNumPartitions() < par:
        # widen the streamed side of the member-sim BNLJ (parallelism trap)
        dm = dm.repartition(par)
    pairs = dm.alias("d").join(F.broadcast(qm.alias("q")), F.lit(True), "inner")
    denom = F.col("q._qn") * F.col("d._dn")
    sims = pairs.select(
        F.col("q.gid").alias("gid"),
        F.col("q.mid").alias("mid"),
        F.col("d.dgid").alias("dgid"),
        F.when(denom != 0.0, dot(F.col("q.emb"), F.col("d.emb")) / denom)
        .otherwise(F.lit(0.0))
        .alias("sim"),
    )
    best = sims.groupBy("gid", "mid", "dgid").agg(F.max("sim").alias("best"))
    scores = best.groupBy("gid", "dgid").agg(
        F.round(F.sum("best"), round_dp).cast("double").alias("score")
    )
    w = Window.partitionBy("gid").orderBy(F.col("score").desc(), F.col("dgid").asc())
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("gid", "dgid", "score", "rank")
    )


def ann_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    num_partitions: int = 8,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN top-k: kmeans coarse quantizer; each vector lives in its
    single nearest cell (the inverted list), each query probes its ``nprobe``
    nearest cells — the classic IVF asymmetry. Returns (qid, neighbor_id,
    distance, rank); approximate."""
    conf = PartitionerConf(
        kind="kmeans",
        num_partitions=num_partitions,
        replication_factor=1,
        query_fanout=nprobe,
    )
    return knn_partitioned_worker(vectors, queries, conf, k=k, metric=metric)
