"""Declared query registry: name -> (spark_fn, oracle_sql).

This backs ``__spark_entry__.queries()`` / ``oracle_sql()``. Every operator
from SURVEY.md §2 that is implemented gets an entry here; SQL-expressible ones
carry a DuckDB oracle that must hash-match (column names aliased identically
on both sides — the driver sorts columns by name and hashes values).

Convention: each spark_fn takes (spark, sf_dir) and returns a DataFrame.
Oracles run on DuckDB with views region nation customer supplier part orders
lineitem events documents embeddings pre-registered on the same parquet.
"""

from __future__ import annotations

import dataclasses
import functools
import math
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vstream_spark.config import PartitionerConf, VectorIndexConf
from vstream_spark.functions import distance as D
from vstream_spark.functions import text as T
from vstream_spark.operators.dedup import (
    _minhash_perm_params,
    dedup_exact,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from vstream_spark.operators.knn import knn_exact
from vstream_spark.operators.partitioned import knn_partitioned, knn_partitioned_worker
from vstream_spark.operators.similarity import (
    ann_topk_ivf,
    lsh_similarity_join,
    similarity_join_exact,
)
from vstream_spark.sources.tables import (
    QUERIES_FIXTURE_SQL,
    VECTORS_FIXTURE_SQL,
    load_table,
    queries_fixture,
    register_views,
    vectors_fixture,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# registry: name -> (fn, oracle_sql | None)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            # a silent overwrite would shadow a declared operator and shrink
            # the driver's correctness surface without any visible failure
            raise ValueError(f"duplicate query registration: {name!r}")
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _values_oracle(rows, cols: str) -> str:
    """DuckDB oracle selecting the literal ``rows`` as table ``t(cols)``;
    cells are str, bool or int."""

    def lit(v) -> str:
        if isinstance(v, bool):
            return "true" if v else "false"
        return f"'{v}'" if isinstance(v, str) else str(v)

    values = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {values}) t({cols})"


def register_gate(name: str, cols: str, checks: list):
    """Register a self-checking query. The decorated function returns
    ``{check: ok}`` and the query emits one ``(*check, ok)`` row per entry,
    where a check is a scalar or a tuple filling the leading ``cols``. The
    oracle is every declared check with ``ok`` true, so a failed, missing
    or differently labelled check mismatches."""

    def row(check, ok) -> tuple:
        return (*(check if isinstance(check, tuple) else (check,)), ok)

    expected = [row(c, True) for c in checks]
    types = {str: "string", int: "int", bool: "boolean"}
    schema = ", ".join(
        f"{col} {types[type(v)]}" for col, v in zip(cols.split(", "), expected[0])
    )

    def deco(fn: Callable[[SparkSession, str], dict]) -> QueryFn:
        @functools.wraps(fn)
        def gate(spark: SparkSession, sf_dir: str) -> DataFrame:
            rows = [row(c, bool(ok)) for c, ok in fn(spark, sf_dir).items()]
            return spark.createDataFrame(rows, schema)

        return register(name, _values_oracle(expected, cols))(gate)

    return deco


def _exact_recalls(
    vectors: DataFrame, queries: DataFrame, tag: str, **results: DataFrame
) -> dict:
    """Recall@10 of each result frame against the exact l2 top-10 of
    ``queries`` over ``vectors`` (cached while the recalls run), printed to
    stderr as ``# <tag> <name>=<recall> ...``."""
    from vstream_spark.functions.metrics import mean_recall

    exact = knn_exact(
        vectors.select("id", "emb"), queries, k=10, metric="l2"
    ).cache()
    try:
        exact.count()
        rec = {name: mean_recall(df, exact, k=10) for name, df in results.items()}
    finally:
        exact.unpersist()
    print(
        f"# {tag} " + " ".join(f"{n}={r:.4f}" for n, r in rec.items()),
        file=sys.stderr,
    )
    return rec


def _recall_ok(
    vectors: DataFrame, queries: DataFrame, tag: str, floor: float, result: DataFrame
) -> bool:
    """Whether ``result`` clears recall@10 ``floor`` (`_exact_recalls`);
    the floor is logged with the recall."""
    rec = _exact_recalls(vectors, queries, f"{tag} floor={floor}", recall=result)
    return rec["recall"] >= floor


def _query_set(emb: DataFrame, *extra) -> DataFrame:
    """The declared kNN query set: every 25th row of the embeddings table
    ``emb`` as ``(qid, emb, *extra)``; ``extra`` columns are evaluated over
    ``emb``."""
    return emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("emb"), *extra
    )


def _vectors(emb: DataFrame, *extra) -> DataFrame:
    """The searched side of a declared kNN query: every row of ``emb`` as
    ``(id, emb, *extra)``."""
    return emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("emb"), *extra)


def _emb_pair(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Vectors = all embeddings; queries = every 25th embedding (no TTL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _vectors(emb), _query_set(emb)


# Per-process fixture memos keyed by (temp-dir prefix, sf_dir). Only the
# on-disk inputs and stores are reused: every stream and search over them
# runs fresh per call.
_INPUT_DIRS: dict[tuple[str, str], str] = {}
_STORES: dict[tuple[str, str], tuple] = {}


def _input_dir(prefix: str, sf_dir: str, write: Callable[[str], None]) -> str:
    """Memoised fixture input dir: ``write(dir)`` fills a fresh temp dir
    once per (prefix, sf_dir). A failed write removes the dir and caches
    nothing; a dir deleted since the last call is written again."""
    src = _INPUT_DIRS.get((prefix, sf_dir))
    if src is not None and os.path.isdir(src):
        return src
    src = tempfile.mkdtemp(prefix=prefix)
    try:
        write(src)
    except BaseException:
        shutil.rmtree(src, ignore_errors=True)
        raise
    _INPUT_DIRS[(prefix, sf_dir)] = src
    return src


def _store(spark: SparkSession, sf_dir: str, prefix: str, fill: Callable) -> tuple:
    """Memoised SegmentStore of a declared query: ``fill(store)`` loads a
    fresh store in a temp dir once per (prefix, sf_dir). Returns ``(store,
    fill(store))`` with ``store.spark`` set to the caller's session. A failed
    fill removes the store dir and caches nothing, as in ``_input_dir``."""
    from vstream_spark.storage.segments import SegmentStore

    entry = _STORES.get((prefix, sf_dir))
    if entry is None:
        store = SegmentStore(spark, tempfile.mkdtemp(prefix=prefix))
        try:
            entry = (store, fill(store))
        except BaseException:
            shutil.rmtree(store.base_dir, ignore_errors=True)
            raise
        _STORES[(prefix, sf_dir)] = entry
    entry[0].spark = spark
    return entry


def _file_stream(
    spark: SparkSession, schema, path: str, files_per_trigger: int = 1
) -> DataFrame:
    """Parquet file stream over fixture files, ``files_per_trigger`` files
    per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def _drain(
    stream_df: DataFrame, name: str, state_src: str | None,
    output_mode: str = "append",
) -> DataFrame:
    """Drain ``stream_df`` (availableNow) into the memory table ``name`` and
    return that table. ``name`` is fixed per entry, so a repeat call
    replaces the table instead of leaving one more on the driver. A
    stateful stream passes its input path ``state_src``, from which the
    state partition count is derived; ``None`` leaves the session's."""
    from vstream_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_state_partitions,
    )

    spark = stream_df.sparkSession
    run_stream_to_memory(
        stream_df, name, output_mode=output_mode,
        state_partitions=(
            None if state_src is None else stream_state_partitions(spark, state_src)
        ),
    )
    return spark.table(name)


def _ranked_sql(k: int) -> str:
    """Closing CTE and SELECT of a kNN oracle: rank ``scored`` (qid,
    neighbor_id, distance) per query, ties by neighbor id; keep the top
    ``k``."""
    return f"""ranked AS (
  SELECT qid, neighbor_id, distance,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT qid, neighbor_id, distance, rank FROM ranked WHERE rank <= {k}
"""


def _knn_oracle(metric: str, k: int = 10) -> str:
    dist = D.distance_sql("q.embedding", "v.embedding", metric)
    return f"""
WITH scored AS (
  SELECT q.vec_id AS qid, v.vec_id AS neighbor_id, {dist} AS distance
  FROM embeddings v
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 25 = 0) q
), ranked AS (
  SELECT qid, neighbor_id, distance,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT qid, neighbor_id, distance, rank FROM ranked WHERE rank <= {k}
"""


def _make_knn_exact(metric: str) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        vectors, queries = _emb_pair(spark, sf_dir)
        return knn_exact(vectors, queries, k=10, metric=metric)

    return fn


for _metric in ("l2", "ip", "cosine"):
    register(f"knn_exact_{_metric}", _knn_oracle(_metric))(_make_knn_exact(_metric))


_KNN_PER_QUERY_K_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding, 5 + vec_id % 6 AS k
  FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.qid, v.vec_id AS neighbor_id,
         {D.distance_sql("q.embedding", "v.embedding", "l2")} AS distance, q.k
  FROM embeddings v CROSS JOIN q),
ranked AS (
  SELECT qid, neighbor_id, distance, k,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT qid, neighbor_id, distance, rank FROM ranked WHERE rank <= k
"""


@register("knn_per_query_k", _KNN_PER_QUERY_K_ORACLE)
def q_knn_per_query_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query k through the partitioned dataflow (per-query k parity,
    vector_options.h:79-95): each query carries its own k; with the
    'simple' partitioner the result is exact, so the per-query rank cutoff
    hash-matches."""
    vectors, queries = _emb_pair(spark, sf_dir)
    queries = queries.withColumn("k", F.lit(5) + F.col("qid") % 6)
    conf = PartitionerConf(kind="simple", num_partitions=8)
    # k_cap=10 (k is 5..10): keeps the rank cut map-side (WindowGroupLimit)
    # — without it the sf1 rehearsal measured this query at 62x on 10x data
    return knn_partitioned(vectors, queries, conf, k=None, metric="l2", k_cap=10)


_KNN_FILTERED_ORACLE = f"""
WITH scored AS (
  SELECT q.vec_id AS qid, v.vec_id AS neighbor_id,
         {D.distance_sql("q.embedding", "v.embedding", "l2")} AS distance
  FROM (SELECT * FROM embeddings WHERE label % 2 = 0) v
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 25 = 0) q
), ranked AS (
  SELECT qid, neighbor_id, distance,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM ranked_src
)
SELECT qid, neighbor_id, distance, rank FROM ranked WHERE rank <= 10
"""


@register("knn_filtered", _KNN_FILTERED_ORACLE.replace("ranked_src", "scored"))
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-filtered kNN (the modern vector-DB 'filtered search' shape):
    the label predicate lands in the DataFrame BEFORE the distance join, so
    Catalyst pushes it into the parquet scan — candidates never even load."""
    emb = load_table(spark, sf_dir, "embeddings")
    vectors = _vectors(emb.filter(F.col("label") % 2 == 0))
    return knn_exact(vectors, _query_set(emb), k=10, metric="l2")


# --- kNN with TTL freshness + insert/delete stream semantics (W2/W3) --------


def _ttl_lww_oracle(ctes: str) -> str:
    """TTL-window + last-writer-wins top-k oracle over the ``vectors`` CTE
    that ``ctes`` defines, answering the fixture query stream."""
    return f"""
WITH {ctes},
queries AS ({QUERIES_FIXTURE_SQL}),
inserts AS (SELECT * FROM vectors WHERE op = 'I'),
deletes AS (SELECT * FROM vectors WHERE op = 'D'),
live AS (
  SELECT i.* FROM inserts i
  WHERE NOT EXISTS (
    SELECT 1 FROM deletes d WHERE d.id = i.id AND d.event_time > i.event_time
  )
),
scored AS (
  SELECT q.qid, v.id AS neighbor_id, {D.l2sq_sql("q.emb", "v.emb")} AS distance, q.k AS k
  FROM live v
  JOIN queries q
    ON v.event_time >= q.event_time - q.ttl AND v.event_time <= q.event_time
),
ranked AS (
  SELECT qid, neighbor_id, distance, k,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT qid, neighbor_id, distance, rank FROM ranked WHERE rank <= k
"""


def _ttl_lww_search(
    spark: SparkSession, sf_dir: str, vectors: DataFrame
) -> DataFrame:
    """Spark side of `_ttl_lww_oracle`: exact top-k of the fixture query
    stream over ``vectors`` under TTL windows and last-writer-wins deletes."""
    return knn_exact(
        vectors, queries_fixture(spark, sf_dir), k=None, metric="l2",
        honor_ttl=True, honor_deletes=True,
    )


_KNN_TTL_ORACLE = _ttl_lww_oracle(f"vectors AS ({VECTORS_FIXTURE_SQL})")


@register("knn_ttl_delete", _KNN_TTL_ORACLE)
def knn_ttl_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ttl_lww_search(spark, sf_dir, vectors_fixture(spark, sf_dir))


# --- Relational floor (SURVEY §2.7: Spark SQL provides these natively) ------
# TPC-H-shaped queries over the driver's star schema: they exercise scans,
# predicate pushdown, partial aggregation, broadcast joins and sorting — and
# serve as the bench workload's relational half.

_RELATIONAL: dict[str, str] = {
    # TPC-H Q1 shape: scan + filter + groupBy agg (map-side partial agg).
    "rel_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS DOUBLE) AS sum_charge,
       CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty,
       CAST(round(avg(l_extendedprice), 6) AS DOUBLE) AS avg_price,
       CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    # TPC-H Q3 shape: 3-way join + agg + top-n.
    "rel_shipping_priority": """
SELECT l.l_orderkey AS orderkey,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS DOUBLE) AS revenue,
       o.o_orderdate AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, orderkey ASC
LIMIT 20
""",
    # TPC-H Q5 shape: 5-way star join through region/nation.
    "rel_local_supplier_volume": """
SELECT n.n_name AS nation,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    # TPC-H Q6 shape: pure filter + scalar agg (predicate pushdown showcase).
    "rel_revenue_forecast": """
SELECT CAST(round(sum(l_extendedprice * l_discount), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2024-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2025-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
""",
    # Windowed event-stream rollup (events table; tumbling 1h windows).
    "rel_event_rollup": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value,
       CAST(round(round(sum(value), 4) / count(*), 6) AS DOUBLE) AS avg_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    # Top-k per group via window function (M1 merge machinery, relational form).
    "rel_top_orders_per_cust": """
WITH ranked AS (
  SELECT o_custkey AS custkey, o_orderkey AS orderkey, o_totalprice AS totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
  FROM orders
)
SELECT custkey, orderkey, CAST(totalprice AS DOUBLE) AS totalprice, rank
FROM ranked WHERE rank <= 3
""",
}


# Pushdown refinements for the date predicates above (guide §6): the views'
# timestamp columns are DERIVED (timestamp_micros(raw DIV 1000) over the
# int64-nanos parquet column), so Catalyst cannot push the WHERE clauses to
# the scan — at 100 TB that forfeits all row-group/page skipping on the
# ship-date, the most selective predicate in the family. Each entry below
# re-registers one view with the EXACT raw-nanos preimage of the query's own
# predicate applied BEFORE the conversion, where it reaches PushedFilters.
#
# Equivalence proof (ts = timestamp_micros(CAST(raw DIV 1000 AS BIGINT)),
# m = unix_micros(T) > 0 for every literal here, BIGINT DIV truncates toward
# zero):
#   ts <= T  <=>  raw DIV 1000 <= m  <=>  raw <= m*1000 + 999
#     (raw >= 0: truncating DIV = floor; raw < 0: both sides true since m>0)
#   ts >= T  <=>  raw DIV 1000 >= m  <=>  raw >= m*1000
#     (raw < 0: raw DIV 1000 <= 0 < m and raw < 0 < m*1000 — both false)
#   ts <  T  <=>  raw DIV 1000 <= m-1  <=>  raw <= m*1000 - 1
# The refinement is additionally REDUNDANT (the query's own WHERE still
# applies downstream), so results are identical even by inspection.
_RELATIONAL_RAW_PUSHDOWN: dict[str, dict[str, tuple[str, str]]] = {
    "rel_pricing_summary": {
        "lineitem": (
            "l_shipdate",
            "l_shipdate <= unix_micros(TIMESTAMP '2024-09-01 00:00:00') * 1000 + 999",
        ),
    },
    "rel_revenue_forecast": {
        "lineitem": (
            "l_shipdate",
            "l_shipdate >= unix_micros(TIMESTAMP '2024-01-01 00:00:00') * 1000"
            " AND l_shipdate <= unix_micros(TIMESTAMP '2025-01-01 00:00:00') * 1000 - 1",
        ),
    },
}


def _make_relational(
    sql: str, raw_pushdown: dict[str, tuple[str, str]] | None = None
) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        for tbl, (col, pred) in (raw_pushdown or {}).items():
            load_table(
                spark, sf_dir, tbl, raw_filter=pred, raw_filter_col=col
            ).createOrReplaceTempView(tbl)
        return spark.sql(sql)

    return fn


for _name, _sql in _RELATIONAL.items():
    register(_name, _sql)(
        _make_relational(_sql, _RELATIONAL_RAW_PUSHDOWN.get(_name))
    )


# --- Partitioned pipeline (P1 exchange + co-located search + M1 merge) ------
# With the 'simple' partitioner every query fans out to all partitions, so the
# partitioned dataflow is EXACT and hash-matches the same oracle as knn_exact
# — this verifies the exchange + merge machinery end-to-end.


@register("knn_partitioned_exact", _knn_oracle("l2"))
def knn_partitioned_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors, queries = _emb_pair(spark, sf_dir)
    conf = PartitionerConf(kind="simple", num_partitions=8)
    return knn_partitioned(vectors, queries, conf, k=10, metric="l2")


@register("knn_lsh_ann")  # rows-only: approximate by LSH partition pruning
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors, queries = _emb_pair(spark, sf_dir)
    conf = PartitionerConf(
        kind="lsh", num_partitions=8, num_families=4, num_hashes=4, bucket_width=2.0
    )
    return knn_partitioned_worker(vectors, queries, conf, k=10, metric="l2")


@register("knn_ivf_ann")  # rows-only: kmeans coarse quantizer + probed scan
def knn_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors, queries = _emb_pair(spark, sf_dir)
    return ann_topk_ivf(vectors, queries, k=10, metric="l2", num_partitions=4, nprobe=2)


# --- Text analysis (documents table) ----------------------------------------

_TEXT_STATS_SQL = f"""
SELECT doc_id,
       length(text) AS n_chars,
       {T.token_count_sql("text")} AS n_tokens,
       CAST(round({T.avg_token_len_sql("text")}, 6) AS DOUBLE) AS avg_token_len,
       CAST(round({T.stopword_ratio_sql("text")}, 6) AS DOUBLE) AS stopword_ratio
FROM documents
"""

_TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(round({T.quality_score_sql("text")}, 6) AS DOUBLE) AS quality,
       CASE WHEN {T.quality_score_sql("text")} >= 0.5 THEN true ELSE false END AS is_kept
FROM documents
"""

_LANG_ID_SQL = f"""
SELECT doc_id, lang AS lang_declared, {T.lang_id_sql("text")} AS lang_pred
FROM documents
"""

_FINGERPRINT_SQL = f"""
SELECT doc_id, {T.fingerprint_sql("text")} AS fingerprint,
       {T.token_count_sql("text")} AS n_tokens
FROM documents
"""

_TOP_TOKENS_ORACLE = """
SELECT tok, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY freq DESC, tok ASC
LIMIT 50
"""


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """``(doc_id, tok)``: one row per whitespace token of each document."""
    return docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )


@register("text_top_tokens", _TOP_TOKENS_ORACLE)
def q_text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies (vocabulary induction / BPE-prep step):
    top-50 tokens by term and document frequency, deterministic tiebreak."""
    toks = _doc_tokens(load_table(spark, sf_dir, "documents"))
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), F.col("tok").asc())
        .limit(50)
    )


_QUALITY_FILTER_SQL = f"""
SELECT doc_id,
       {T.quality_keep_sql("text")} AS keep,
       {T.quality_fail_reasons_sql("text")} AS fail_reasons
FROM documents
"""

for _name, _sql in {
    "text_stats": _TEXT_STATS_SQL,
    "text_quality": _TEXT_QUALITY_SQL,
    "text_lang_id": _LANG_ID_SQL,
    "text_fingerprint": _FINGERPRINT_SQL,
}.items():
    register(_name, _sql)(_make_relational(_sql))


@register("text_quality_filter", _QUALITY_FILTER_SQL)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule filter via the DataFrame operator (the oracle
    runs the identical shared-SQL rules in DuckDB)."""
    return T.quality_filter(load_table(spark, sf_dir, "documents"))


# --- Deduplication (documents table) ----------------------------------------

_DEDUP_EXACT_ORACLE = """
WITH fp AS (SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents)
SELECT doc_id, fingerprint,
       count(*) OVER (PARTITION BY fingerprint) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
FROM fp
"""


@register("dedup_exact", _DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


_NGRAM_JACCARD_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END) AS shingles FROM toks),
ex AS (SELECT doc_id, len(shingles) AS ns, unnest(shingles) AS shingle FROM sh),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ns AS na, b.ns AS nb, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT doc_a, doc_b,
       CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) AS jaccard
FROM common
WHERE CAST(n_common AS DOUBLE) / CAST(na + nb - n_common AS DOUBLE) >= 0.8
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), n=3, threshold=0.8)


def _minhash_oracle(num_perm: int = 64, seed: int = 42) -> str:
    # multiply-shift family: ((a*x + b) mod 2^64) >> 4 — HUGEINT arithmetic
    # reproduces numpy uint64 wraparound bitwise (see _minhash_perm_params)
    a, b = _minhash_perm_params(num_perm, seed)
    pairs = ", ".join(f"[{int(x)}::HUGEINT,{int(y)}::HUGEINT]" for x, y in zip(a, b))
    return f"""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END) AS shingles FROM toks),
ids AS (SELECT doc_id,
        list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT) AS sids
        FROM sh)
SELECT doc_id,
       list_transform([{pairs}], p ->
         list_min(list_transform(sids, x ->
           CAST(((p[1] * x::HUGEINT + p[2]) % 18446744073709551616) // 16 AS BIGINT)))) AS sig
FROM ids
"""


_MINHASH_SIGS_ORACLE = f"""
SELECT doc_id, array_to_string(sig, ',') AS sig_str
FROM ({_minhash_oracle()}) mh
"""


@register("dedup_minhash_sigs", _MINHASH_SIGS_ORACLE)
def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signature emitted as a comma-joined string: the driver's canonicalizer
    # sorts rows by every column, which list-typed cells can't support.
    sigs = minhash_signatures(load_table(spark, sf_dir, "documents"), n=3, num_perm=64)
    return sigs.select(
        "doc_id", F.concat_ws(",", F.col("sig").cast("array<string>")).alias("sig_str")
    )


def _minhash_lsh_oracle(
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    extra_pred: str | None = None,
) -> str:
    rows = num_perm // bands
    base = _minhash_oracle(num_perm)
    extra = f"  AND ({extra_pred})" if extra_pred else ""
    return f"""
WITH sigs AS ({base}),
banded AS (
  SELECT doc_id, sig, unnest(range(0, {bands})) AS band FROM sigs),
keyed AS (
  SELECT doc_id, sig, band,
         array_to_string(sig[band * {rows} + 1 : band * {rows} + {rows}], ',') AS band_key
  FROM banded),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(list_sum(list_transform(list_zip(sig_a, sig_b),
            p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / {num_perm}.0 AS jaccard_est
FROM cand
WHERE CAST(list_sum(list_transform(list_zip(sig_a, sig_b),
        p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / {num_perm}.0 >= {threshold}
{extra}
"""


@register("dedup_minhash_lsh", _minhash_lsh_oracle())
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"), n=3, num_perm=64, bands=16, threshold=0.5
    )


def _sample_stratified_oracle() -> str:
    from vstream_spark.operators.sample import hash_bucket_sql

    b = hash_bucket_sql("doc_id", 42)
    return f"""
SELECT doc_id, lang FROM documents
WHERE {b} < CASE WHEN lang = 'en' THEN 500000
                 WHEN lang = 'zh' THEN 1000000
                 ELSE 250000 END
"""


@register("sample_stratified", _sample_stratified_oracle())
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: rebalance the language mix
    (downsample the 'en' head, keep all 'zh', quarter-rate the tail)."""
    from vstream_spark.operators.sample import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, {"en": 0.5, "zh": 1.0}, "lang", default_rate=0.25
    ).select("doc_id", "lang")


def _sample_split_oracle() -> str:
    from vstream_spark.operators.sample import hash_bucket_sql

    b = hash_bucket_sql("doc_id", 42)
    # mirrors hash_split's sorted-name boundary chain:
    # test [0, 0.1e6) -> train [0.1e6, 0.9e6) -> val (rest)
    return f"""
SELECT doc_id,
       CASE WHEN {b} < 100000 THEN 'test'
            WHEN {b} < 900000 THEN 'train'
            ELSE 'val' END AS split
FROM documents
"""


@register("sample_split", _sample_split_oracle())
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: a row's split never changes
    under data growth or repartitioning (hash-range, not random)."""
    from vstream_spark.operators.sample import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "split"
    )


def _cap_per_source_oracle() -> str:
    from vstream_spark.operators.sample import hash_bucket_sql

    b = hash_bucket_sql("doc_id", 42)
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {b} ASC, doc_id ASC) AS rk
  FROM documents)
SELECT doc_id, source FROM ranked WHERE rk <= 15
"""


@register("sample_cap_per_source", _cap_per_source_oracle())
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source cap: at most 15 docs per source domain
    (anti-overrepresentation), ranked by stable hash."""
    from vstream_spark.operators.sample import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", 15).select("doc_id", "source")


# --- Eval-set decontamination (train/test overlap scrub) ---------------------

_DECONTAMINATE_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END AS shingles FROM toks),
ev AS (SELECT DISTINCT unnest(shingles) AS gram FROM sh WHERE doc_id % 20 = 7),
tr AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
hits AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (gram))
SELECT d.doc_id, h.doc_id IS NOT NULL AS is_contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


@register("text_decontaminate", _DECONTAMINATE_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing any 3-gram with the eval subset
    (doc_id ≡ 7 mod 20) — the benchmark-contamination scrub; eval grams
    broadcast, inverted-index semi-join."""
    from vstream_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 20 == 7)
    return decontaminate(docs, eval_docs, n=3)


# --- Mixture sampling (data mixing to target proportions) --------------------

_MIXTURE = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _mixture_oracle() -> str:
    from vstream_spark.operators.sample import mixture_sample_sql

    inner = mixture_sample_sql(_MIXTURE, "source")
    return f"SELECT doc_id, source FROM ({inner}) m"


@register("sample_mixture", _mixture_oracle())
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample to a 50/30/20 source mixture (the data-mixing step):
    largest total preserving the target shares, deterministic hash keep."""
    from vstream_spark.operators.sample import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(docs, _MIXTURE, "source").select("doc_id", "source")


# --- Token-window chunking (sequence construction) ---------------------------


def _chunk_oracle() -> str:
    from vstream_spark.functions.text import chunk_tokens_sql

    return chunk_tokens_sql(chunk_size=32, stride=24)


@register("text_chunk", _chunk_oracle())
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows (size 32, stride 24) per document — the
    sequence-packing precursor; pure Catalyst slice/posexplode."""
    from vstream_spark.functions.text import chunk_tokens

    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, chunk_size=32, stride=24)


_REPETITION_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
g AS (SELECT doc_id, CASE WHEN len(t) >= 3
        THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        ELSE [array_to_string(t, ' ')] END AS grams FROM toks)
SELECT doc_id,
       len(grams) AS n_grams,
       len(list_distinct(grams)) AS distinct_ngrams,
       CAST(round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
            AS DOUBLE) AS rep_fraction
FROM g
"""


@register("text_repetition", _REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (duplicate 3-gram fraction, the Gopher
    repetition signal) — pure Catalyst higher-order transforms."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    out = docs.select("doc_id", grams.alias("_g")).select(
        "doc_id",
        F.size("_g").cast("long").alias("n_grams"),
        F.size(F.array_distinct("_g")).cast("long").alias("distinct_ngrams"),
        F.round(
            1.0 - F.size(F.array_distinct("_g")) / F.size("_g"), 6
        ).cast("double").alias("rep_fraction"),
    )
    return out


def _components_oracle() -> str:
    # transitive closure of the LSH candidate graph via recursive CTE;
    # component = min reachable doc_id (same label the Spark propagation
    # converges to)
    lsh = _minhash_lsh_oracle()
    return f"""
WITH RECURSIVE
cand AS (SELECT doc_a, doc_b FROM ({lsh}) lshq),
edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
SELECT doc_id, component,
       count(*) OVER (PARTITION BY component) AS cluster_size,
       doc_id = component AS is_canonical
FROM comp
"""


@register("dedup_components", _components_oracle())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vstream_spark.operators.dedup import dedup_components

    return dedup_components(load_table(spark, sf_dir, "documents"))


def _simhash_oracle(bits: int = 60) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 1
         THEN t ELSE [array_to_string(t, ' ')] END) AS shingles FROM toks),
ids AS (SELECT doc_id,
        list_transform(shingles, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT) AS sids
        FROM sh)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, {bits}), b ->
         CASE WHEN list_sum(list_transform(sids, x ->
                CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
FROM ids
"""


@register("dedup_simhash", _simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load_table(spark, sf_dir, "documents"), n=1)


# --- Similarity search / join (embeddings table) -----------------------------

_SIMJOIN_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {D.cosine_sim_sql("a.embedding", "b.embedding")} AS cosine_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.4
"""


@register("similarity_join_exact", _SIMJOIN_ORACLE)
def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity_join_exact(emb, emb, threshold=0.4)


def _lsh_join(emb: DataFrame) -> DataFrame:
    """The declared LSH-bucketed cosine >= 0.4 self-join of ``emb``."""
    conf = PartitionerConf(
        kind="lsh", num_partitions=16, num_families=6, num_hashes=2, bucket_width=1.0
    )
    return lsh_similarity_join(emb, threshold=0.4, conf=conf)


@register("similarity_join_lsh")  # rows-only: LSH-bucketed candidate pruning
def q_similarity_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_join(load_table(spark, sf_dir, "embeddings"))


# --- Embedding-cosine near-dup (semantic dedup) ------------------------------

_DEDUP_EMB_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {D.cosine_sim_sql("a.embedding", "b.embedding")} AS cosine_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
dup AS (
  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM pairs
  WHERE cosine_sim >= 0.4 GROUP BY id_b)
SELECT e.vec_id, d.dup_of IS NOT NULL AS is_duplicate, d.dup_of
FROM embeddings e LEFT JOIN dup d ON e.vec_id = d.vec_id
"""


@register("dedup_embedding", _DEDUP_EMB_ORACLE)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vstream_spark.operators.dedup import dedup_embedding

    return dedup_embedding(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


# --- Multimodal binary columns (media fixture over documents) ----------------

from vstream_spark.operators.multimodal import (  # noqa: E402
    MEDIA_FIXTURE_SQL,
    frame_sample,
    media_features,
    media_fixture,
    media_stats,
)

_MEDIA_STATS_ORACLE = f"""
WITH {MEDIA_FIXTURE_SQL}
SELECT doc_id, octet_length(content) AS n_bytes,
       CASE substring(hex(content), 1, 8)
            WHEN '89504E47' THEN 'png' WHEN 'FFD8FFE0' THEN 'jpeg'
            WHEN '52494646' THEN 'wav' ELSE 'unknown' END AS format,
       md5(body) AS body_md5
FROM media
"""


@register("media_stats", _MEDIA_STATS_ORACLE)
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_stats(media_fixture(load_table(spark, sf_dir, "documents")))


_FRAME_SAMPLE_ORACLE = f"""
WITH {MEDIA_FIXTURE_SQL},
frames AS (
  SELECT doc_id, body,
         unnest(range(0, CAST(ceil(length(body) / 64.0) AS BIGINT), 4)) AS fi
  FROM media)
SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
       md5(substring(body, CAST(fi * 64 + 1 AS INTEGER), 64)) AS frame_md5
FROM frames
"""


@register("media_frame_sample", _FRAME_SAMPLE_ORACLE)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(media_fixture(load_table(spark, sf_dir, "documents")))


@register("media_features")  # rows-only: stub decode -> pooled feature vector
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = media_features(media_fixture(load_table(spark, sf_dir, "documents")), dim=16)
    # array cells break the driver's sort-based canonicalizer: ship a stable
    # scalar rendering (6-dp floats, comma-joined) instead of the raw list.
    rendered = F.concat_ws(
        ",", F.transform("feature", lambda x: F.format_string("%.6f", x.cast("double")))
    )
    return feats.select("doc_id", rendered.alias("feature_str"))


# --- HNSW per-partition graph index (W1/W5 worker, rows-only ANN) ------------

# HNSW search parameters of the recall-gated stream-state and store searches
_GATE_HNSW = VectorIndexConf(
    dim=64, index_kind="hnsw", m=16, ef_construction=128, ef_search=128
)


# Segment stores for the declared HNSW query: the graph is built ONCE at
# flush time (C3, hnsw_table_builder.cc builds the SST's graph when the
# memtable flushes — not at query time) and every search LOADS the
# persisted sidecar (C4, executor index cache).
def _two_segment_store(
    spark: SparkSession, sf_dir: str, prefix: str, extra_cols: tuple[str, ...] = ()
):
    """ONE recipe for the indexed declared-query segment stores (embeddings
    table -> two flushed segments, each with its HNSW sidecar): the search
    paths exercise the multi-segment merge AND the artifact load path.
    ``extra_cols`` persists attribute columns (e.g. 'label') in the segment
    parquet for predicate-filtered searches."""

    def fill(store) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        vectors = _vectors(
            emb, *extra_cols,
            (F.col("vec_id") * 10).cast("long").alias("event_time"),
            F.lit(0).cast("long").alias("ttl"),
            F.lit("I").alias("op"),
        )
        segs = [store.append_segment(vectors.filter(F.col("id") % 2 == r))
                for r in (0, 1)]
        store.build_segment_indexes(segs, VectorIndexConf(index_kind="hnsw"))

    return _store(spark, sf_dir, prefix, fill)[0]


def _hnsw_store(spark: SparkSession, sf_dir: str):
    return _two_segment_store(spark, sf_dir, "knn-hnsw-store-")


@register("knn_hnsw_ann")  # rows-only: persisted per-segment HNSW graphs
def q_knn_hnsw_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW ANN through the LSM path: segments flushed with graph sidecars
    (C3), searched by SegmentSearcher which LOADS the artifacts instead of
    rebuilding (C4) — the declared query demonstrates build-at-flush /
    load-at-search, the reference's hnsw_table_builder/reader split."""
    from vstream_spark.storage.search import SegmentSearcher

    store = _hnsw_store(spark, sf_dir)
    _, queries = _emb_pair(spark, sf_dir)
    iconf = VectorIndexConf(
        dim=64, index_kind="hnsw", m=16, ef_construction=128, ef_search=64
    )
    pdf = SegmentSearcher(store, iconf).search(queries, k=10)
    return spark.createDataFrame(
        pdf[["qid", "neighbor_id", "distance", "rank"]]
    )


@register("knn_pq_ann")  # rows-only: product-quantized ADC per partition
def q_knn_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:

    vectors, queries = _emb_pair(spark, sf_dir)
    conf = PartitionerConf(kind="simple", num_partitions=4)
    iconf = VectorIndexConf(dim=64, index_kind="pq", pq_m=8)
    return knn_partitioned_worker(
        vectors, queries, conf, k=10, metric="l2", index_conf=iconf
    )


# --- Recall metric (M3: SearchResult.getAccuracy) ----------------------------

_RECALL_ORACLE = """
SELECT vec_id AS qid, CAST(1.0 AS DOUBLE) AS recall
FROM embeddings WHERE vec_id % 25 = 0
"""


@register("knn_recall_partitioned", _RECALL_ORACLE)
def q_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the partitioned dataflow vs the exact oracle — exactly 1.0
    per query in exact mode (the M1-merge determinism gate)."""
    from vstream_spark.functions.metrics import recall_at_k

    vectors, queries = _emb_pair(spark, sf_dir)
    conf = PartitionerConf(kind="simple", num_partitions=8)
    ann = knn_partitioned(vectors, queries, conf, k=10, metric="l2")
    gt = knn_exact(vectors, queries, k=10, metric="l2")
    return recall_at_k(ann, gt, k=10)


# --- Token counting (whitespace + BPE-ish regex) -----------------------------

_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

_TOKENIZE_ORACLE = f"""
SELECT doc_id,
       {T.token_count_sql("text")} AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


@register("text_tokenize", _TOKENIZE_ORACLE)
def q_text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(T.token_count_sql("text")).alias("n_ws_tokens"),
        F.expr(f"CAST(regexp_count(text, '{_BPE_RE}') AS BIGINT)").alias("n_bpe_tokens"),
    )


# --- Feature-hashing text embedding ------------------------------------------

from vstream_spark.operators.embed import embed_text, hashed_tf, hashed_tf_sql  # noqa: E402


@register("text_hashed_tf", hashed_tf_sql(64))
def q_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hashed_tf(load_table(spark, sf_dir, "documents"), dim=64)


def _embed_ctes(dim: int, tf: str) -> str:
    """CTEs ``tf`` (named by the caller) through ``emb_t (doc_id, emb)``
    over a token CTE ``toks``: hashed-TF -> densify -> L2-normalize
    (float32), the SQL twin of `embed_text`."""
    return f"""{tf} AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(tok), 1, 15))::BIGINT % {dim} AS INTEGER) AS bucket,
         count(*) AS tf
  FROM toks GROUP BY doc_id, bucket),
m AS (
  SELECT doc_id, map_from_entries(list(struct_pack(k := bucket, v := tf::DOUBLE))) AS mm
  FROM {tf} GROUP BY doc_id),
dense AS (
  SELECT doc_id, list_transform(range(0, {dim}), i -> coalesce(mm[i::INTEGER][1], 0.0)) AS d
  FROM m),
normed AS (
  SELECT doc_id, sqrt(list_sum(list_transform(d, x -> x*x))) AS n, d FROM dense),
emb_t AS (
  SELECT doc_id,
         list_transform(d, x -> CAST(x / (CASE WHEN n > 0 THEN n ELSE 1.0 END) AS FLOAT)) AS emb
  FROM normed),"""


def _embed_knn_oracle(dim: int = 64, k: int = 5) -> str:
    """Full pipeline oracle: hashed-TF -> densify -> L2-normalize (float32)
    -> cosine top-k — the whole embed+search composition reproduced in SQL."""
    dist = D.distance_sql("q.emb", "v.emb", "cosine")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
{_embed_ctes(dim, "tf")}
q AS (SELECT doc_id AS qid, emb FROM emb_t WHERE doc_id % 50 = 0),
scored AS (
  SELECT q.qid, v.doc_id AS neighbor_id, {dist} AS distance
  FROM emb_t v CROSS JOIN q),
{_ranked_sql(k)}"""


@register("text_embed_knn", _embed_knn_oracle())
def q_text_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # emb feeds both the vector side and the query side of the kNN: pin it
    # so the embed pipeline runs once per action, not once per join side
    emb = embed_text(docs, dim=64).localCheckpoint(eager=True)
    vectors = emb.selectExpr("doc_id as id", "emb")
    qs = emb.filter(F.col("doc_id") % 50 == 0).selectExpr("doc_id as qid", "emb")
    return knn_exact(vectors, qs, k=5, metric="cosine")


# --- P5 dynamic partitioner in the dataflow (rows-only ANN) ------------------


@register("knn_lsh_hilbert_ann")  # rows-only: the paper's headline partitioner
def q_knn_lsh_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    vectors, queries = _emb_pair(spark, sf_dir)
    conf = PartitionerConf(
        kind="lsh+hilbert", num_partitions=8, num_hashes=4, bucket_width=2.0,
        sfc_bits=7, replication_factor=2,
    )
    return knn_partitioned_worker(vectors, queries, conf, k=10, metric="l2")


# --- Structured Streaming rollup (same oracle as the batch rollup) -----------

_STREAM_ROLLUP_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def _rounded_rollup(roll: DataFrame) -> DataFrame:
    """A streamed rollup's output columns, sum_value rounded as the rollup
    oracles round it."""
    return roll.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(F.col("sum_value"), 4).cast("double").alias("sum_value"),
    )


@register("streaming_event_rollup", _STREAM_ROLLUP_ORACLE)
def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window rollup executed as a real streaming query
    (availableNow over the events parquet), drained to memory and returned —
    the streaming result hash-matches the batch oracle."""
    from vstream_spark.streaming.pipeline import (
        read_event_stream,
        streaming_event_rollup,
    )

    roll = _rounded_rollup(streaming_event_rollup(read_event_stream(spark, sf_dir)))
    return _drain(
        roll, "_streaming_rollup_result", f"{sf_dir}/events.parquet", "complete"
    )


_STREAMING_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("streaming_dedup", _STREAMING_DEDUP_ORACLE)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup executed as a real streaming query
    (availableNow), appended to memory; hash-matches batch DISTINCT."""
    from vstream_spark.streaming.pipeline import (
        read_event_stream,
        streaming_dedup_keys,
    )

    ded = streaming_dedup_keys(
        read_event_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    return _drain(ded, "_streaming_dedup_result", f"{sf_dir}/events.parquet")


# --- Streaming vector search (the reference's end-to-end job) ----------------
# VStreamSearchJob.java:21-49: one mixed insert/delete/query stream keyed by
# partition -> stateful per-partition index -> global top-k merge. Run here as
# a REAL Structured Streaming query (applyInPandasWithState, availableNow over
# 3 micro-batches: inserts / inserts+deletes / queries) over the exact flat
# kind, so the result hash-matches the batch oracle (deletes LWW + TTL
# freshness window).

_KNN_STREAMING_SCHEMA = (
    "partition_id int, op string, id bigint, emb array<float>, "
    "event_time bigint, ttl bigint"
)


def _knn_streaming_fixture(spark: SparkSession, sf_dir: str) -> str:
    """3-file micro-batch fixture for the streaming search queries: batch 0
    inserts even ids, batch 1 inserts odd ids + deletes ids ≡3 (mod 10),
    batch 2 fans every 25th id's query to all partitions with a TTL window
    cutting event_time < 1000. Files are cached per (process, sf_dir); the
    STREAM itself (state machine, micro-batch replay, merge) runs fresh on
    every invocation — only the on-disk input batches are reused."""
    num_parts = 4
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        (F.col("vec_id") % num_parts).cast("int").alias("partition_id"),
        F.lit("I").alias("op"),
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<float>").alias("emb"),
        (F.col("vec_id") * 10).cast("long").alias("event_time"),
        F.lit(0).cast("long").alias("ttl"),
    )
    deletes = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") % num_parts).cast("int").alias("partition_id"),
        F.lit("D").alias("op"),
        F.col("vec_id").alias("id"),
        F.lit(None).cast("array<float>").alias("emb"),
        F.lit(10_000_000).cast("long").alias("event_time"),
        F.lit(0).cast("long").alias("ttl"),
    )
    queries = _query_set(
        emb, F.explode(F.sequence(F.lit(0), F.lit(num_parts - 1))).alias("pid")
    ).select(
        F.col("pid").cast("int").alias("partition_id"),
        F.lit("Q").alias("op"),
        F.col("qid").alias("id"),
        F.col("emb").cast("array<float>").alias("emb"),
        F.lit(20_000_000).cast("long").alias("event_time"),
        F.lit(19_999_000).cast("long").alias("ttl"),
    )

    def write(src: str) -> None:
        base.filter(F.col("id") % 2 == 0).coalesce(1).write.parquet(f"{src}/b000")
        base.filter(F.col("id") % 2 == 1).unionByName(deletes).coalesce(1).write.parquet(
            f"{src}/b001"
        )
        queries.coalesce(1).write.parquet(f"{src}/b002")

    return _input_dir("knn-streaming-", sf_dir, write)


_KNN_STREAMING_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id % 25 = 0),
v AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % 10 <> 3 AND vec_id * 10 >= 1000 AND vec_id * 10 <= 20000000),
scored AS (
  SELECT q.qid, v.vec_id AS neighbor_id,
         {D.distance_sql("q.embedding", "v.embedding", "l2")} AS distance
  FROM v CROSS JOIN q),
{_ranked_sql(10)}"""


@register("knn_streaming", _KNN_STREAMING_ORACLE)
def q_knn_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector search end-to-end: micro-batch 0 inserts even ids,
    batch 1 inserts odd ids + deletes ids ≡3 (mod 10), batch 2 queries every
    25th id fanned to all partitions with a TTL window cutting event_time <
    1000. State persists across batches (applyInPandasWithState); the global
    merge is the M1 top-k. The flat kind is exact => hash-matches batch
    kNN with deletes+TTL."""
    from vstream_spark.operators.knn import topk
    from vstream_spark.streaming.stateful import stateful_vector_search

    src = _knn_streaming_fixture(spark, sf_dir)
    stream = _file_stream(spark, _KNN_STREAMING_SCHEMA, f"{src}/*")
    partials = stateful_vector_search(
        stream, VectorIndexConf(dim=64, index_kind="flat"), k=10
    )
    # data ids are unreplicated (one partition each) -> (qid, id) unique
    return topk(_drain(partials, "_knn_streaming", src), 10, dedup=False).select(
        "qid", "neighbor_id", "distance", "rank"
    )


# --- As-of (point-in-time) join over the events stream -----------------------

_ASOF_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.ts AS asof_ts, c.value AS asof_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("asof_purchase_click", _ASOF_ORACLE)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the same user's latest at-or-before click —
    the trades-to-quotes as-of join, single-shuffle union/window plan."""
    from vstream_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    return asof_join(purchases, clicks, on="ts", by="user_id", right_cols=["value"])


# --- JSON property extraction + aggregation (events.props) -------------------

_JSON_ORACLE = """
SELECT event_type,
       CAST(avg(json_extract(props, '$.k')::BIGINT) AS DOUBLE) AS avg_k,
       CAST(max(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS max_k,
       count(*) AS n
FROM events
GROUP BY event_type
"""


@register("events_json_props", _JSON_ORACLE)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column surface: extract + aggregate, all JVM-side
    (get_json_object inside whole-stage codegen)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.avg(k).cast("double").alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count("*").alias("n"),
    )


# --- Sessionization (session windows vs gaps-and-islands oracle) -------------

_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events),
m AS (
  SELECT user_id, ts,
         CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM o),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM m)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


@register("events_sessionize", _SESSION_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user via Spark's native session_window —
    the streaming-capable sessionization the reference lacks entirely."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


# --- Scalar quantization (C5 in-flight compression analog) -------------------

_QUANT_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale,
         embedding
  FROM embeddings)
SELECT vec_id, CAST(round(scale, 9) AS DOUBLE) AS scale_r,
       array_to_string(list_transform(embedding, x -> CASE WHEN scale > 0.0
         THEN CAST(round(x::DOUBLE / scale) AS TINYINT) ELSE CAST(0 AS TINYINT) END),
         ',') AS q_str
FROM q
"""


@register("vector_quantize", _QUANT_ORACLE)
def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from vstream_spark.operators.quantize import quantize

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    out = quantize(emb)
    # int8 codes as a comma-joined string (list cells break the driver's
    # sort-based canonicalizer); values identical to the duckdb rendering.
    return out.select(
        "vec_id",
        F.round(F.col("scale"), 9).cast("double").alias("scale_r"),
        F.concat_ws(",", F.col("q").cast("array<string>")).alias("q_str"),
    )


# --- Recall gates: every partitioner kind + every index kind, oracle-checked --
# Each ANN variant runs through the full partition -> worker -> merge dataflow
# and its mean recall@10 vs the exact oracle must clear a per-variant floor.
# CALIBRATION: floors were measured at sf0.01 (the driver's correctness SF,
# 6k vectors / 240 queries) and set ~0.15-0.25 below the observed recall; the
# boolean absorbs seed-level jitter while still catching routing/merge
# regressions. Recall of LSH/curve partitioners is data-scale-dependent, so
# the floors are only meaningful at sf0.01-sf0.1; each gate prints the
# measured per-variant recall to stderr so a tripped floor is diagnosable
# from the driver log. This upgrades the previously rows-only ANN entries to
# verified checks — the Spark analog of the reference's own accuracy harness
# (VStreamRecallTestJob.java:31-52, SearchResult.getAccuracy).

_PARTITIONER_RECALL_SPECS: list[tuple[str, dict, float]] = [
    ("simple", dict(kind="simple", num_partitions=8), 0.95),
    ("lsh", dict(kind="lsh", num_partitions=8, num_families=4, num_hashes=4,
                 bucket_width=2.0), 0.75),
    ("lsh+random", dict(kind="lsh+random", num_partitions=8, num_families=2,
                        num_hashes=4, bucket_width=2.0), 0.55),
    ("lsh+proximity", dict(kind="lsh+proximity", num_partitions=8, num_families=2,
                           num_hashes=4, bucket_width=2.0, num_probes=2), 0.75),
    ("lsh+hilbert", dict(kind="lsh+hilbert", num_partitions=8, num_hashes=4,
                         bucket_width=2.0, sfc_bits=7, replication_factor=2), 0.5),
    ("lsh+zorder", dict(kind="lsh+zorder", num_partitions=8, num_hashes=4,
                        bucket_width=2.0, sfc_bits=7, replication_factor=2), 0.5),
    ("lsh+gray", dict(kind="lsh+gray", num_partitions=8, num_hashes=4,
                      bucket_width=2.0, sfc_bits=7, replication_factor=2), 0.5),
    ("lsh+peano", dict(kind="lsh+peano", num_partitions=8, num_hashes=4,
                       bucket_width=2.0, sfc_bits=7, replication_factor=2), 0.5),
    ("lsh+sierpinski", dict(kind="lsh+sierpinski", num_partitions=8, num_hashes=4,
                            bucket_width=2.0, sfc_bits=7, replication_factor=2), 0.5),
    ("hilbert", dict(kind="hilbert", num_partitions=8, sfc_bits=7,
                     replication_factor=2), 0.5),
    ("kmeans", dict(kind="kmeans", num_partitions=8, replication_factor=3), 0.7),
    ("odyssey", dict(kind="odyssey", num_partitions=8), 0.9),
]


def _recall_gate(specs, vectors, queries, run_variant) -> dict:
    """Shared driver loop: tiny fixed set of variants, each run fully
    distributed (``run_variant(variant, kw)`` -> result frame); only a
    scalar mean recall comes back per variant."""
    rec = _exact_recalls(
        vectors, queries, "recall_gate",
        **{variant: run_variant(variant, kw) for variant, kw, _ in specs},
    )
    return {variant: rec[variant] >= floor for variant, _, floor in specs}


@register_gate(
    "knn_partitioner_recall", "variant, recall_ok",
    [v for v, _, _ in _PARTITIONER_RECALL_SPECS],
)
def q_partitioner_recall(spark: SparkSession, sf_dir: str) -> dict:
    """Recall floor for EVERY exchange operator of SURVEY §2.3 (P1-P9, all
    dispatch names of PartitionFunction.getPartitionFunction) through the
    partition -> per-partition search -> top-k merge dataflow."""
    vectors, queries = _emb_pair(spark, sf_dir)

    def run(variant, kw):
        return knn_partitioned_worker(
            vectors, queries, PartitionerConf(**kw), k=10, metric="l2"
        )

    return _recall_gate(_PARTITIONER_RECALL_SPECS, vectors, queries, run)


# --- Partition balance gate (r10 VERDICT #3) ---------------------------------
# Skew is the #1 measured scale risk (the r10 sf1 query lane was skew-bound at
# 34.7 q/s: one hot plain-LSH bucket held most of the pair work). The
# reference logs exactly this per epoch — max/mean partition load —
# LSHWithSpaceFillingPartitionFunction.java:366-374; its dynamic equi-depth
# re-learn (LSHashSpaceFillingPartitioner.java:118-145) and odyssey's
# hot-word randomization (OdysseyPartitionFunction.java:160-329) exist to
# bound it. This gate routes the CLUSTERED embeddings table through each
# family and asserts max/mean under a per-family bound, with plain LSH held
# to a loose documented-skew ceiling plus an explicit contrast row: the
# equi-depth curve family must measure LESS skewed than plain LSH on the
# same data (the reason the dynamic partitioner exists). All partitioners
# are seeded, so the factors are deterministic per dataset.

_BALANCE_GATE_SPECS: list[tuple[str, dict, float]] = [
    # measured max/mean on the planted-cluster embeddings across
    # sf0.001/0.01/0.1: simple 1.12-1.15, lsh 3.07-3.36, lsh+hilbert
    # 1.47-1.67, hilbert 1.00-1.01, kmeans 1.11-2.06, odyssey 1.49-1.60
    ("simple", dict(kind="simple", num_partitions=8), 1.5),
    ("lsh", dict(kind="lsh", num_partitions=8, num_families=1, num_hashes=4,
                 bucket_width=2.0), 6.0),
    ("lsh+hilbert", dict(kind="lsh+hilbert", num_partitions=8, num_hashes=4,
                         bucket_width=2.0, sfc_bits=7, replication_factor=1), 2.5),
    ("hilbert", dict(kind="hilbert", num_partitions=8, sfc_bits=7,
                     replication_factor=1), 1.25),
    ("kmeans", dict(kind="kmeans", num_partitions=8), 3.0),
    ("odyssey", dict(kind="odyssey", num_partitions=8), 2.5),
]


@register_gate(
    "partition_balance_gate", "variant, balance_ok",
    [v for v, _, _ in _BALANCE_GATE_SPECS] + ["equidepth_relieves_lsh_skew"],
)
def q_partition_balance_gate(spark: SparkSession, sf_dir: str) -> dict:
    """max/mean partition load bound for every partitioner family on
    clustered data, plus the skew-relief contrast (equi-depth < plain LSH).
    Each fit+measure is fully distributed; one scalar returns per family."""
    from vstream_spark.partitioners.dispatch import balance_factor, fit_partitioner

    emb, _ = _emb_pair(spark, sf_dir)
    oks = {}
    factors: dict[str, float] = {}
    for variant, kw, bound in _BALANCE_GATE_SPECS:
        part = fit_partitioner(PartitionerConf(**kw), emb)
        bf = balance_factor(part.partition_data(emb))
        factors[variant] = bf
        print(
            f"# balance_gate {variant}: max/mean={bf:.3f} bound={bound}",
            file=sys.stderr,
        )
        oks[variant] = bf <= bound
    oks["equidepth_relieves_lsh_skew"] = factors["lsh+hilbert"] < factors["lsh"]
    return oks


_INDEX_RECALL_SPECS: list[tuple[str, dict, float]] = [
    ("hnsw", dict(index_kind="hnsw", m=16, ef_construction=128, ef_search=64), 0.9),
    ("ivf", dict(), 0.7),  # handled specially: ann_topk_ivf nprobe=3/4
    ("pq", dict(index_kind="pq", pq_m=8), 0.8),
]


@register_gate(
    "knn_index_recall", "variant, recall_ok", [v for v, _, _ in _INDEX_RECALL_SPECS]
)
def q_index_recall(spark: SparkSession, sf_dir: str) -> dict:
    """Recall floor for every per-partition index kind (W1/W5 HNSW worker,
    IVF coarse-quantizer scan, PQ ADC) against the exact-scan oracle."""

    vectors, queries = _emb_pair(spark, sf_dir)

    def run(variant, kw):
        if variant == "ivf":
            return ann_topk_ivf(
                vectors, queries, k=10, metric="l2", num_partitions=4, nprobe=3
            )
        return knn_partitioned_worker(
            vectors,
            queries,
            PartitionerConf(kind="simple", num_partitions=4),
            k=10,
            metric="l2",
            index_conf=VectorIndexConf(dim=64, **kw),
        )

    return _recall_gate(_INDEX_RECALL_SPECS, vectors, queries, run)


# --- LSH similarity-join pair recall (completes the no-oracle cleanup) --------


@register("similarity_join_lsh_recall", "SELECT true AS pair_recall_ok")
def q_similarity_join_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of exact cosine>=0.4 pairs recovered by the LSH-bucketed join
    must clear 0.8 (single boolean row; the gate absorbs bucketing jitter)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity_join_exact(emb, emb, threshold=0.4).select("id_a", "id_b")
    lsh = _lsh_join(emb).select("id_a", "id_b")
    n_exact = exact.count()
    n_hit = exact.join(lsh, ["id_a", "id_b"]).count()
    recall = n_hit / n_exact if n_exact else 1.0
    print(f"# similarity_join_lsh floor=0.8 pair_recall={recall:.4f}", file=sys.stderr)
    return spark.createDataFrame([(recall >= 0.8,)], "pair_recall_ok boolean")


# --- Relational breadth: CUBE, set operations, window frames ------------------
# SURVEY §2.7: capabilities the reference lacks entirely but a Spark-native
# engine gets from Catalyst. Shared-SQL both engines.

_RELATIONAL_EXTRA: dict[str, str] = {
    # grouping sets / CUBE with grouping() disambiguation
    "rel_order_cube": """
SELECT coalesce(o_orderstatus, '<all>') AS orderstatus,
       coalesce(o_orderpriority, '<all>') AS orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    # set operations: INTERSECT / EXCEPT branches tagged and unioned
    "rel_customer_setops": """
SELECT 'with_orders' AS tag, custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey FROM orders)
UNION ALL
SELECT 'no_orders' AS tag, custkey FROM (
  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT o_custkey FROM orders)
""",
    # window frame: 7-row trailing moving average per user (deterministic
    # frame: ties broken by event_id). Computed as sum/count rather than
    # avg() OVER: engines differ in incremental vs per-frame window-avg
    # evaluation (segment tree vs re-scan) in the last ulp, while sum over
    # <=7 doubles folds identically — keeps the 6dp round hash-stable.
    "rel_moving_avg": """
SELECT event_id,
       user_id,
       CAST(round(
         sum(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         / count(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS DOUBLE) AS ma7
FROM events
""",
}

for _name, _sql in _RELATIONAL_EXTRA.items():
    register(_name, _sql)(_make_relational(_sql))


_PIVOT_ORACLE = """
SELECT o_orderpriority AS orderpriority,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
       CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
            AS DOUBLE) AS price_f
FROM orders
GROUP BY o_orderpriority
"""


@register("rel_order_pivot", _PIVOT_ORACLE)
def q_rel_order_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame pivot (status columns per priority) — Spark's native PIVOT;
    the oracle is the portable conditional-aggregation form. Explicit value
    list => no extra distinct-values job at scale."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy(F.col("o_orderpriority").alias("orderpriority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).cast("double").alias("price"),
        )
    )
    # absent (priority, status) cells pivot to NULL; count() in the oracle
    # yields 0 — coalesce so sparse SFs still hash-match
    return piv.select(
        "orderpriority",
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("n_p"),
        F.col("F_price").alias("price_f"),
    )


# --- PII redaction (corpus scrub) -------------------------------------------
# The synthetic documents carry no real PII, so the query injects a
# deterministic email / SSN-shaped id / IPv4 per document (same concat on
# both engines) and redacts it — the hash-match then verifies the full regex
# chain, not a no-op pass-through.

_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com "
    "from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ref 123-45-' || "
    "CAST(1000 + doc_id % 9000 AS VARCHAR)"
)

_PII_ORACLE = f"""
SELECT doc_id,
       {T.redact_pii_sql(f"text || {_PII_SUFFIX_SQL}")} AS clean_text
FROM documents
"""


@register("text_pii_redact", _PII_ORACLE)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/ID/IP redaction over the corpus — one codegen projection of
    chained JVM regexp_replace (patterns in the Java∩RE2 subset)."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ref 123-45-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    return docs.select("doc_id", T.redact_pii(injected).alias("clean_text"))


# --- Token-count histogram (corpus length profile) ---------------------------

_TOKEN_HIST_ORACLE = f"""
SELECT CAST(floor({T.token_count_sql('text')} / 16.0) AS INT) AS bucket,
       count(*) AS n_docs,
       CAST(sum({T.token_count_sql('text')}) AS BIGINT) AS total_tokens
FROM documents
GROUP BY 1
"""


@register("text_token_histogram", _TOKEN_HIST_ORACLE)
def q_text_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: doc counts + token mass per 16-token bucket —
    one map-side-combined aggregation over a shared token-count expression
    (integer-exact bucketing, no float-boundary flakiness)."""
    docs = load_table(spark, sf_dir, "documents")
    tc = F.expr(T.token_count_sql("text"))
    return (
        docs.select(F.floor(tc / 16.0).cast("int").alias("bucket"), tc.alias("_tc"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tc").cast("bigint").alias("total_tokens"),
        )
    )


# --- Anti-join: customers with no urgent order (TPC-H q22 shape) -------------

_CUST_INACTIVE_ORACLE = """
SELECT c_mktsegment AS mktsegment,
       count(*) AS n_customers,
       CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS total_bal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


@register("rel_customer_inactive", _CUST_INACTIVE_ORACLE)
def q_rel_customer_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment rollup of customers with no urgent order — a LEFT ANTI
    hash join shuffled on custkey (the orders side is too big to broadcast
    at scale; the filter prunes it before the exchange), then one small
    aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).cast("double").alias("total_bal"),
        )
    )


# --- Correlated small-quantity revenue (TPC-H q17 shape) ---------------------

_SMALL_QTY_ORACLE = """
WITH brand AS (
  SELECT l_partkey, l_quantity, l_extendedprice,
         avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#13')
SELECT CAST(round(sum(l_extendedprice) / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM brand WHERE l_quantity < 0.2 * avg_qty
"""


@register("rel_small_qty_revenue", _SMALL_QTY_ORACLE)
def q_rel_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q17 shape: revenue from below-20%-of-average-quantity lineitems of
    one brand. The brand's partkeys broadcast-semi-prune lineitem BEFORE the
    per-part window, so the only shuffle is on the pruned subset. The
    threshold (0.2 * avg of integer quantities) is float-exact on both
    engines, so the boundary filter cannot flake."""
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    from pyspark.sql import Window

    pruned = li.join(
        F.broadcast(brand_parts), li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    w = Window.partitionBy("l_partkey")
    flagged = pruned.select(
        "l_extendedprice",
        (F.col("l_quantity") < 0.2 * F.avg("l_quantity").over(w)).alias("_small"),
    )
    return flagged.filter("_small").agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).cast("double").alias("avg_yearly")
    )


# --- Search over the compressed surface (C5 accuracy contract) ---------------

# int8 quantize -> dequantize of the embeddings table as CTEs ``s``, ``deq``
# (the SQL twin of `_int8_vectors`)
_INT8_CTES = """WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
  FROM embeddings),
deq AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(CAST(CASE WHEN scale > 0.0
                  THEN CAST(round(x::DOUBLE / scale) AS TINYINT)
                  ELSE CAST(0 AS TINYINT) END AS DOUBLE) * scale AS FLOAT)) AS emb
  FROM s),"""


def _int8_vectors(emb: DataFrame) -> DataFrame:
    """``(id, emb)`` of the embeddings table ``emb`` after the int8
    quantize -> dequantize arithmetic `SegmentStore(codec='int8')` applies
    at flush/scan. The scale is materialized as a column BEFORE the
    code/dequantize lambdas reference it: inlined, the max-abs fold
    re-evaluates per array element (quantize.py scale_expr; same values,
    measured ~3x on this shape)."""
    from vstream_spark.operators.quantize import quantize_expr, scale_expr

    pre = emb.select(
        "vec_id", "embedding", scale_expr(F.col("embedding")).alias("_s")
    )
    _, codes = quantize_expr(F.col("embedding"), scale=F.col("_s"))
    deq = F.transform(
        codes, lambda x: (x.cast("double") * F.col("_s")).cast("float")
    )
    return pre.select(F.col("vec_id").alias("id"), deq.alias("emb"))


_KNN_QUANT_ORACLE = f"""
{_INT8_CTES}
scored AS (
  SELECT q.vec_id AS qid, v.vec_id AS neighbor_id,
         {D.distance_sql("q.embedding", "v.emb", "l2")} AS distance
  FROM deq v
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 25 = 0) q),
ranked AS (
  SELECT qid, neighbor_id, distance,
         CAST(row_number() OVER (PARTITION BY qid
              ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT qid, neighbor_id, distance, rank FROM ranked WHERE rank <= 10
"""


@register("knn_quantized", _KNN_QUANT_ORACLE)
def q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact search over the int8-compressed vector surface — the same
    quantize -> dequantize arithmetic `SegmentStore(codec='int8')` applies
    at flush/scan (bitwise-identical IEEE ops, so this hash-match IS the
    codec's search-accuracy contract). Full-precision queries, compressed
    collection — the asymmetric setup every SQ deployment runs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_exact(_int8_vectors(emb), _query_set(emb), k=10, metric="l2")


# --- Exact substring duplication (Lee et al. dedup signal) -------------------

_DUP_SPANS_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+8], ' ')) AS fp
      FROM toks, unnest(range(0, greatest(len(t) - 8 + 1, 0))) AS u(i)),
d AS (SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) > 1),
hits AS (SELECT doc_id, count(*) AS n_dup FROM w JOIN d USING (fp) GROUP BY doc_id)
SELECT tk.doc_id,
       greatest(len(tk.t) - 7, 0) AS n_windows,
       coalesce(h.n_dup, 0) AS n_dup,
       CAST(CASE WHEN len(tk.t) >= 8
            THEN round(coalesce(h.n_dup, 0) / (len(tk.t) - 7.0), 6)
            ELSE 0.0 END AS DOUBLE) AS dup_fraction
FROM toks tk LEFT JOIN hits h ON tk.doc_id = h.doc_id
"""


@register("text_dup_spans", _DUP_SPANS_ORACLE)
def q_text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact 8-token-window duplication fraction — the
    substring-level dedup signal complementing MinHash (document-level)."""
    from vstream_spark.operators.dedup import dup_spans

    docs = load_table(spark, sf_dir, "documents")
    return dup_spans(docs, n=8)


# --- Watermark late-data semantics (deterministic 3-batch replay) ------------
# Batch 0: on-time events before the split. Batch 1: the post-split
# remainder (advances the watermark past every pre-split window). Batch 2:
# the "late" slice — pre-split events arriving two batches after their
# windows closed. Spark applies the PREVIOUS batch's watermark to filter
# late input (watermarkForData) and the current batch's to evict/emit state
# (watermarkForEviction) — so the late batch is filtered against
# max(batch-0 ts) - delay, and final emission against max(all ts) - delay.
# Both are deterministic functions of the fixture; the DuckDB oracle
# replays exactly those two rules. Late rows falling in windows ending
# after the data watermark still aggregate (in-threshold lateness); the
# rest are dropped.

_LATE_SPLIT = "2024-01-20 00:00:00"
_LATE_DELAY_S = 7201  # != multiple of 1h; event µs jitter keeps wm unaligned

_LATE_ROLLUP_ORACLE = f"""
WITH b0 AS (
  SELECT * FROM events WHERE ts < TIMESTAMP '{_LATE_SPLIT}' AND event_id % 7 != 3),
late AS (
  SELECT * FROM events WHERE ts < TIMESTAMP '{_LATE_SPLIT}' AND event_id % 7 = 3),
b1 AS (
  SELECT * FROM events WHERE ts >= TIMESTAMP '{_LATE_SPLIT}'),
wmd AS (SELECT max(ts) - INTERVAL {_LATE_DELAY_S} SECOND AS w FROM b0),
wmf AS (SELECT max(ts) - INTERVAL {_LATE_DELAY_S} SECOND AS w FROM events),
kept AS (
  SELECT ts, event_type, value FROM b0
  UNION ALL
  SELECT ts, event_type, value FROM b1
  UNION ALL
  SELECT ts, event_type, value FROM late
  WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wmd))
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM kept
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
GROUP BY 1, 2
"""


@register("streaming_late_rollup", _LATE_ROLLUP_ORACLE)
def q_streaming_late_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked rollup under real late data: append-mode emission with a
    {_LATE_DELAY_S}s watermark over a deterministic 3-micro-batch replay.
    Hash-matching the oracle proves the drop rule (late rows to expired
    windows discarded, in-threshold late rows aggregated) and the append
    emission rule (only watermark-closed windows emitted)."""
    from vstream_spark.streaming.pipeline import streaming_event_rollup

    def write(src: str) -> None:
        # raw-nanos preimages of the split predicate (guide §6, same proof
        # as _RELATIONAL_RAW_PUSHDOWN: ts < T <=> raw <= unix_micros(T)*1000
        # - 1; ts >= T <=> raw >= unix_micros(T)*1000). On nanos-vintage
        # parquet the converted-column filter below cannot reach the scan;
        # the preimage does, and is redundant with it — identical slices by
        # construction. load_table skips it on micros-vintage data.
        m = f"unix_micros(TIMESTAMP '{_LATE_SPLIT}')"
        ev_pre = load_table(
            spark, sf_dir, "events",
            raw_filter=f"ts <= {m} * 1000 - 1", raw_filter_col="ts",
        )
        ev_post = load_table(
            spark, sf_dir, "events",
            raw_filter=f"ts >= {m} * 1000", raw_filter_col="ts",
        )
        on_time = F.col("event_id") % 7 != 3
        pre = F.col("ts") < _LATE_SPLIT
        ev_pre.filter(pre & on_time).coalesce(1).write.parquet(f"{src}/b000")
        ev_post.filter(~pre).coalesce(1).write.parquet(f"{src}/b001")
        ev_pre.filter(pre & ~on_time).coalesce(1).write.parquet(f"{src}/b002")

    src = _input_dir("late-rollup-", sf_dir, write)
    schema = load_table(spark, sf_dir, "events").schema
    stream = _file_stream(spark, schema, f"{src}/*")
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # session tz pinned UTC -> value-preserving reinterpretation
        # (withWatermark requires TIMESTAMP; rollup emits NTZ back)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    roll = streaming_event_rollup(stream, watermark=f"{_LATE_DELAY_S} seconds")
    return _rounded_rollup(_drain(roll, "_late_rollup", src))


# --- Sequence packing (training-sequence construction) -----------------------


def _pack_oracle() -> str:
    return T.pack_sequences_sql(seq_len=256, chunk_size=32, num_shards=8)


@register("text_pack_sequences", _pack_oracle())
def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack non-overlapping 32-token chunks into 256-token training
    sequences, parallel across 8 deterministic shards (prefix-sum binning —
    no global sort at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.pack_sequences(docs, seq_len=256, chunk_size=32, num_shards=8)


# --- Per-source quality percentile filter (curation cut) ---------------------

_QUALITY_PCT_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, {T.quality_score_sql('text')} AS score FROM documents),
ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score ASC, doc_id ASC)
           AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored)
SELECT doc_id, source, CAST(round(score, 6) AS DOUBLE) AS score_r,
       rk > floor(0.25 * n) AS keep
FROM ranked
"""


@register("text_quality_percentile", _QUALITY_PCT_ORACLE)
def q_text_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the bottom quality quartile WITHIN each source domain (per-domain
    curation — a global cut would gut whole domains). Rank-based threshold:
    integer arithmetic, deterministic under ties, one shuffle on source."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    score = T.quality_score("text")
    w = Window.partitionBy("source")
    ranked = docs.select("doc_id", "source", score.alias("score")).select(
        "doc_id",
        "source",
        "score",
        F.row_number()
        .over(w.orderBy(F.col("score").asc(), F.col("doc_id").asc()))
        .alias("rk"),
        F.count("*").over(w).alias("n"),
    )
    return ranked.select(
        "doc_id",
        "source",
        F.round("score", 6).cast("double").alias("score_r"),
        (F.col("rk") > F.floor(0.25 * F.col("n"))).alias("keep"),
    )


# --- Vocabulary coverage / OOV rate ------------------------------------------

_OOV_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT 40))
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE), 6) AS DOUBLE) AS oov_rate
FROM toks t LEFT JOIN vocab v USING (tok)
GROUP BY t.doc_id
"""


@register("text_oov_rate", _OOV_ORACLE)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-40 vocab
    (tokenizer-coverage signal). The vocab is a TakeOrdered top-k (40 driver
    rows) broadcast back — no shuffle touches the exploded token stream
    besides the per-doc count."""
    toks = _doc_tokens(load_table(spark, sf_dir, "documents"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(40)
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            )
            .cast("double")
            .alias("oov_rate"),
        )
    )


# --- Streaming ANN recall gate (HNSW-in-state through the micro-batch flow) --


@register_gate("knn_streaming_ann_recall", "variant, recall_ok", ["hnsw_stream"])
def q_knn_streaming_ann_recall(spark: SparkSession, sf_dir: str) -> dict:
    """The reference's ACTUAL runtime shape — per-partition HNSW graphs held
    in streaming state (RocksDBKeyedProcessFunction.processElement), built
    incrementally across micro-batches, searched approximately — gated on
    recall@10 >= 0.8 vs the batch exact oracle with the same deletes + TTL
    window. Complements `knn_streaming` (exact mode, hash-matched)."""
    from vstream_spark.operators.knn import topk
    from vstream_spark.streaming.stateful import stateful_vector_search

    src = _knn_streaming_fixture(spark, sf_dir)
    stream = _file_stream(spark, _KNN_STREAMING_SCHEMA, f"{src}/*")
    partials = stateful_vector_search(stream, _GATE_HNSW, k=10)
    ann = topk(_drain(partials, "_knn_streaming_ann", src), 10, dedup=False)
    # batch exact ground truth under the same visibility rules: deletes
    # (ids ≡3 mod 10) applied, TTL window [1000, 20_000_000] on event_time
    vectors, queries = _emb_pair(spark, sf_dir)
    vectors = vectors.filter(
        (F.col("id") % 10 != 3)
        & (F.col("id") * 10 >= 1000)
        & (F.col("id") * 10 <= 20_000_000)
    )
    ok = _recall_ok(vectors, queries, "knn_streaming_ann", 0.8, ann)
    return {"hnsw_stream": ok}


# --- Exact per-group quantiles (analytics staple) ----------------------------

_QUANTILES_ORACLE = """
SELECT event_type,
       CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
       CAST(round(quantile_cont(value, 0.9), 6) AS DOUBLE) AS p90,
       CAST(round(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99
FROM events GROUP BY event_type
"""


@register("rel_event_quantiles", _QUANTILES_ORACLE)
def q_rel_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated per-type value quantiles — Spark
    `percentile` and DuckDB `quantile_cont` share the interpolation
    definition (verified bitwise-equal; rounded anyway). At 100 TB exact
    percentiles need a per-group sort — the declared form; switch to
    percentile_approx when a bounded-error sketch is acceptable."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).cast("double").alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).cast("double").alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).cast("double").alias("p99"),
    )


# --- P5 dynamic epochs in a BATCH dataflow (multi-epoch, recall-gated) -------


def _epoch_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """``(vectors, queries, t_now)`` of the epoch gates: vectors carry
    event_time = vec_id * 10, and the query set is stamped ``t_now`` = 10 x
    the row count, the end of that event-time range."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    t_now = emb.count() * 10
    vectors = _vectors(emb, (F.col("vec_id") * 10).cast("long").alias("event_time"))
    queries = _query_set(emb, F.lit(t_now).cast("long").alias("event_time"))
    return vectors, queries, t_now


def _epoch_partitioner(interval: int, max_ttl: int | None = None):
    """The epoch gates' lsh+hilbert partitioner: one curve epoch per
    ``interval`` of event time; queries fan to epochs within ``max_ttl``."""
    from vstream_spark.partitioners.epochs import EpochCurvePartitioner

    conf = PartitionerConf(
        kind="lsh+hilbert", num_partitions=8, num_hashes=4, bucket_width=2.0,
        sfc_bits=7, replication_factor=2, update_interval=interval,
        max_ttl=max_ttl,
    )
    return EpochCurvePartitioner(conf, curve="hilbert", use_lsh=True)


def _epoch_topk(part, pv: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-10 of ``queries`` routed by ``part`` over the routed vectors
    ``pv`` (partition_id, id, emb)."""
    from vstream_spark.operators.knn import topk

    pq = part.partition_queries(queries).select(
        "partition_id", "qid", F.col("emb").alias("qemb")
    )
    cand = pv.join(pq, "partition_id").select(
        "qid",
        F.col("id").alias("neighbor_id"),
        D.distance_expr(F.col("emb"), F.col("qemb"), "l2").alias("distance"),
    )
    return topk(cand, 10)  # replication_factor=2 -> dedup inside topk


@register_gate(
    "knn_epoch_batch_recall", "check_name, ok",
    ["epochs_learned", "fresh_prune", "recall"],
)
def q_knn_epoch_batch_recall(spark: SparkSession, sf_dir: str) -> dict:
    """P5 dynamic-epoch partitioning as a DECLARED BATCH query (r4 VERDICT
    #7): event-timed vectors span THREE ``update_interval`` epochs, each
    epoch learns its own equi-depth curve boundaries
    (``LSHashSpaceFillingPartitioner.java:118-145``), every row routes by
    its OWN epoch's boundaries, and queries fan out only to FRESH epochs
    (``isFresh:353-355`` — epochs intersecting [t - max_ttl, t]). The gate
    proves (1) all three epochs were learned, (2) fresh-epoch pruning
    strictly shrinks the query fan-out vs fanning every epoch, and (3)
    recall@10 of the epoch-partitioned search vs exact kNN over the same
    freshness window clears the lsh+hilbert floor."""
    vectors, queries, t_now = _epoch_inputs(spark, sf_dir)
    interval = (t_now + 3) // 3  # event_time = vec_id*10 -> exactly 3 epochs
    max_ttl = int(1.9 * interval)  # fresh = epochs 1,2; epoch 0 is stale
    part = _epoch_partitioner(interval, max_ttl)
    part.update(vectors)  # each epoch learns from its own rows
    epochs_ok = len(part.epochs) == 3
    # fresh-epoch pruning check: an identical partitioner with no TTL bound
    # fans to every epoch — strictly more (query, partition) pairs
    part_all = _epoch_partitioner(interval)
    part_all.epochs = part.epochs  # same learned state, no freshness bound
    prune_ok = (
        part.partition_queries(queries).count()
        < part_all.partition_queries(queries).count()
    )
    # freshness contract on DATA: candidates must lie inside the window
    fresh = F.col("event_time") >= F.lit(t_now - max_ttl)
    pv = part.partition_data(vectors).filter(fresh).select("partition_id", "id", "emb")
    recall_ok = _recall_ok(
        vectors.filter(fresh), queries.select("qid", "emb"), "knn_epoch_batch",
        0.4, _epoch_topk(part, pv, queries),
    )
    return {"epochs_learned": epochs_ok, "fresh_prune": prune_ok, "recall": recall_ok}


# --- P5 dynamic epochs in the STREAMING dataflow (recall-gated) --------------


@register_gate("knn_epoch_stream_recall", "variant, recall_ok", ["lsh+hilbert_epochs"])
def q_knn_epoch_stream_recall(spark: SparkSession, sf_dir: str) -> dict:
    """The paper's headline P5 mode end-to-end IN STREAMING: two micro-batch
    epochs flow through StreamingCurveIngest, which re-learns quantile
    boundaries per epoch (LSHashSpaceFillingPartitioner.java:118-145) and
    routes each batch by its OWN epoch; queries fan to all fresh epochs and
    the merged top-10 must clear recall@10 >= 0.4 vs exact (floor set ~0.15
    below the sf0.01 measurement, consistent with the batch lsh+hilbert
    gate)."""
    from vstream_spark.streaming.pipeline import StreamingCurveIngest

    vectors, queries, t_now = _epoch_inputs(spark, sf_dir)
    interval = (t_now + 1) // 2  # event_time = vec_id*10 -> exactly 2 epochs

    def write(src: str) -> None:
        early = F.col("event_time") < interval
        vectors.filter(early).coalesce(1).write.parquet(f"{src}/b000")
        vectors.filter(~early).coalesce(1).write.parquet(f"{src}/b001")

    src = _input_dir("epoch-stream-", sf_dir, write)
    part = _epoch_partitioner(interval)
    with tempfile.TemporaryDirectory(
        prefix="epoch-stream-run-", ignore_cleanup_errors=True
    ) as work:
        stream = _file_stream(spark, vectors.schema, f"{src}/*")
        StreamingCurveIngest(part, f"{work}/routed").start(
            stream, f"{work}/ckpt"
        ).awaitTermination()
        pv = spark.read.parquet(f"{work}/routed").select("partition_id", "id", "emb")
        ok = _recall_ok(
            vectors, queries.select("qid", "emb"), "knn_epoch_stream", 0.4,
            _epoch_topk(part, pv, queries),
        )
    return {"lsh+hilbert_epochs": ok}


# ===========================================================================
# Round-4 additions, part 2: range search, clustering, dim reduction,
# n-gram LM stats, sketch-accuracy gates, stream-stream interval join.
# ===========================================================================

# --- Radius (range) search ---------------------------------------------------
# The second vector-store query type next to top-k (hnswlib exposes
# searchKnn AND a range entry point; range search is the dedup primitive
# "everything within eps"). No shuffle at all: codegen filter on the scan.

_RANGE_RADIUS = 1.4  # l2sq; ~1% of pairs at the testdata's distance scale

_KNN_RANGE_ORACLE = f"""
SELECT q.vec_id AS qid, v.vec_id AS neighbor_id,
       {D.distance_sql("q.embedding", "v.embedding", "l2")} AS distance
FROM embeddings v
CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 25 = 0) q
WHERE {D.distance_sql("q.embedding", "v.embedding", "l2")} <= {_RANGE_RADIUS}
"""


@register("knn_range_search", _KNN_RANGE_ORACLE)
def q_knn_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: all vectors within l2sq <= 1.4 of each query. The plan
    has ZERO exchanges (broadcast NLJ + codegen filter) — strictly cheaper
    than top-k, and the shape scan-heavy 100 TB dedup sweeps want."""
    from vstream_spark.operators.similarity import range_search

    vectors, queries = _emb_pair(spark, sf_dir)
    return range_search(vectors, queries, radius=_RANGE_RADIUS, metric="l2")


# --- Embedding clustering (assignment + one Lloyd step) ----------------------
# Corpus curation clusters embeddings to balance topics / drop degenerate
# clusters; the same assignment rule is the IVF coarse quantizer and the
# kmeans partitioner's routing step (KMeansPartitioner.java analog).

_CLUSTER_ASSIGN_ORACLE = f"""
WITH c AS (SELECT vec_id AS cluster_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, c.cluster_id,
         {D.distance_sql("e.embedding", "c.cemb", "l2")} AS distance
  FROM embeddings e CROSS JOIN c)
SELECT vec_id, cluster_id, distance FROM (
  SELECT vec_id, cluster_id, distance,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY distance ASC, cluster_id ASC) AS rn
  FROM scored) WHERE rn = 1
"""


def _centroid_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("cemb")
    )


@register("emb_cluster_assign", _CLUSTER_ASSIGN_ORACLE)
def q_emb_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (broadcast centroids, rank-1 window):
    every embedding labeled with its cluster — deterministic tiebreak, exact,
    hash-matches the cross-join argmin oracle."""
    from vstream_spark.operators.cluster import assign_nearest

    emb = load_table(spark, sf_dir, "embeddings")
    return assign_nearest(emb, _centroid_fixture(spark, sf_dir), metric="l2")


_KMEANS_STEP_ORACLE = f"""
WITH c AS (SELECT vec_id AS cluster_id, embedding AS cemb
           FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT e.vec_id, c.cluster_id,
         {D.distance_sql("e.embedding", "c.cemb", "l2")} AS distance
  FROM embeddings e CROSS JOIN c),
a1 AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY distance ASC, cluster_id ASC) AS rn
    FROM scored) WHERE rn = 1),
cells AS (
  SELECT a1.cluster_id, CAST(r.range AS INT) AS dim,
         CAST(e.embedding[CAST(r.range AS INT) + 1] AS DOUBLE) AS val
  FROM a1 JOIN embeddings e ON e.vec_id = a1.vec_id
  CROSS JOIN range(64) r)
SELECT cluster_id, dim,
       CAST(round(avg(val), 6) AS DOUBLE) AS centroid,
       count(*) AS n_members
FROM cells GROUP BY cluster_id, dim
"""


@register("emb_kmeans_step", _KMEANS_STEP_ORACLE)
def q_emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration: assign + per-(cluster, dim) mean in
    long form (K*D cells — driver-collectable at any scale; the shuffle
    carries only map-side-combined (sum, count) pairs). avg() is rounded to
    6dp on both engines: summation order differs across engines in the last
    ulp, the round masks it (values O(1), error O(1e-15))."""
    from vstream_spark.operators.cluster import lloyd_step

    emb = load_table(spark, sf_dir, "embeddings")
    return lloyd_step(emb, _centroid_fixture(spark, sf_dir), metric="l2")


# --- Random sign projection (Johnson-Lindenstrauss dim reduction) ------------
# 64 -> 8 dims with a deterministic +/-1 matrix (Achlioptas sign projection;
# signs derived from md5(d_j) at module import, embedded literally in BOTH
# the Column expression and the oracle SQL, so the fold order and every
# float op are identical). Dim reduction is the standard pre-ANN shrink for
# 100 TB embedding sweeps: 8x less shuffle volume for the bucketing stage.

import hashlib as _hashlib  # noqa: E402

_RP_IN, _RP_OUT = 64, 8


def _rp_sign(d: int, j: int) -> int:
    h = _hashlib.md5(f"{d}_{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def _rp_oracle() -> str:
    cols = []
    for j in range(_RP_OUT):
        terms = ""
        for d in range(_RP_IN):
            t = f"CAST(embedding[{d + 1}] AS DOUBLE)"
            if d == 0:
                terms = t if _rp_sign(d, j) > 0 else f"(0.0 - {t})"
            else:
                terms += (" + " if _rp_sign(d, j) > 0 else " - ") + t
        cols.append(f"CAST(round(({terms}) / 8.0, 6) AS DOUBLE) AS p{j}")
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


@register("emb_random_projection", _rp_oracle())
def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign projection 64->8 as a pure-Catalyst expression (left-assoc
    +/- chain per output dim, bitwise-identical to the oracle's expansion;
    /8.0 = /sqrt(64) is exact). No Python, no shuffle — map-only codegen."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = [F.col("vec_id")]
    for j in range(_RP_OUT):
        # zip_with against a +/-1.0 literal array + left fold: bitwise equal
        # to the oracle's expanded +/- chain (x*-1.0 flips the sign bit
        # exactly; a + (-b) == a - b; 0.0 + t == t), but an O(1)-size
        # expression tree instead of a 64-term chain — 8x faster to compile
        signs = F.array(*[F.lit(float(_rp_sign(d, j))) for d in range(_RP_IN)])
        expr = F.aggregate(
            F.zip_with(
                F.col("embedding"), signs, lambda x, s: x.cast("double") * s
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out.append(F.round(expr / F.lit(8.0), 6).cast("double").alias(f"p{j}"))
    return emb.select(*out)


# --- Bigram LM statistics ----------------------------------------------------


def _bigrams(docs: DataFrame) -> DataFrame:
    """``(doc_id, bigram, w1)``: one row per adjacent whitespace-token pair
    of each document, ``w1`` its first word."""
    t = F.split(F.trim(F.col("text")), " ")
    pairs = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("a"),
        F.slice(t, 2, F.size(t) - 1).alias("b"),
    )
    return (
        docs.filter(F.size(t) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("p.a"), F.col("p.b")).alias("bigram"),
            F.col("p.a").alias("w1"),
        )
    )


_BIGRAM_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
                               p -> p[1] || ' ' || p[2])) AS bigram
  FROM toks WHERE len(t) >= 2),
counted AS (
  SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS df
  FROM bi GROUP BY bigram)
SELECT bigram, n, df FROM (
  SELECT bigram, n, df,
         row_number() OVER (ORDER BY n DESC, bigram ASC) AS rn
  FROM counted) WHERE rn <= 30
"""


@register("text_bigram_counts", _BIGRAM_ORACLE)
def q_text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table (term + doc frequency, top-30 deterministic):
    the n-gram LM / tokenizer-training statistic. Pure Catalyst: slice +
    arrays_zip + explode, one partial-aggregated groupBy — the shuffle
    carries only (bigram, partial counts)."""
    bi = _bigrams(load_table(spark, sf_dir, "documents"))
    counted = bi.groupBy("bigram").agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("df")
    )
    # orderBy+limit compiles to TakeOrderedAndProject — a distributed
    # per-partition top-30 merged on the driver, NOT a single-partition
    # global sort (at corpus scale the bigram vocabulary is ~100M rows)
    return counted.orderBy(F.col("n").desc(), F.col("bigram").asc()).limit(30)


# --- Sketch-accuracy gates (HLL distinct, quantile sketch) -------------------
# At 100 TB exact COUNT(DISTINCT) / exact quantiles are a full extra shuffle
# of the key universe; the production path is the sketch. These gates run the
# sketch AND the exact computation and assert the sketch lands within
# tolerance — same harness shape as the ANN recall gates, but expressed as a
# real SQL oracle (the group keys come from the data, the booleans must all
# be true).

_APPROX_DISTINCT_ORACLE = """
SELECT event_type, TRUE AS distinct_ok FROM events GROUP BY event_type
"""


@register("approx_distinct_gate", _APPROX_DISTINCT_ORACLE)
def q_approx_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user count per event_type vs exact: relative
    error must be within 15% (3x the configured rsd=0.05). The sketch is the
    scale path: mergeable, O(1) memory per group, no second shuffle."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("_approx"),
        F.countDistinct("user_id").alias("_exact"),
    )
    ok = (
        F.abs(F.col("_approx") - F.col("_exact"))
        <= 0.15 * F.col("_exact")
    )
    return agg.select("event_type", ok.alias("distinct_ok"))


_APPROX_QUANTILE_ORACLE = """
SELECT event_type, TRUE AS q50_ok, TRUE AS q95_ok FROM events GROUP BY event_type
"""


@register("approx_quantile_gate", _APPROX_QUANTILE_ORACLE)
def q_approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch) vs exact percentile for
    p50/p95 of events.value per type: each must land within 2% of the
    group's value range. The sketch aggregates map-side in O(accuracy)
    memory — the only way to do quantiles in one pass over 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("_ap"),
        F.expr("percentile(value, array(0.5D, 0.95D))").alias("_ex"),
        (F.max("value") - F.min("value")).alias("_range"),
        F.count("*").alias("_n"),
    )
    # 2% of range + a small-group term: the sketch returns an ELEMENT while
    # exact interpolates, and for n ~ hundreds the local order-stat gap near
    # p95 (~ range*log(n)/n for uniforms) can exceed 2% of range alone —
    # observed as a gate flake at sf0.001. The 10/n term vanishes at scale.
    tol = 0.02 * F.col("_range") + 10.0 * F.col("_range") / F.col("_n")
    return agg.select(
        "event_type",
        (F.abs(F.col("_ap")[0] - F.col("_ex")[0]) <= tol).alias("q50_ok"),
        (F.abs(F.col("_ap")[1] - F.col("_ex")[1]) <= tol).alias("q95_ok"),
    )


# --- Stream-stream interval join ---------------------------------------------

_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS l_id, p.user_id, p.ts AS l_ts,
       c.event_id AS r_id, c.ts AS r_ts, c.value AS r_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
"""


@register("streaming_interval_join", _INTERVAL_JOIN_ORACLE)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a REAL streaming query: purchases
    joined to the same user's clicks in the preceding hour. Watermarks on
    both sides + two-sided time bounds let Spark evict join state (O(window)
    state, runnable forever); a drained availableNow run equals the batch
    join, so the batch SQL oracle hash-matches."""
    from vstream_spark.streaming.pipeline import (
        read_event_stream,
        streaming_interval_join,
    )

    ev = read_event_stream(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    j = streaming_interval_join(purchases, clicks, lookback="1 hour")
    return _drain(j, "_streaming_ij_result", f"{sf_dir}/events.parquet")


# --- Conversion funnel (sequential event analytics) --------------------------

_FUNNEL_ORACLE = """
WITH s AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type='signup' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s ON e.user_id = s.user_id
      AND e.ts >= s.t0 AND e.ts <= s.t0 + INTERVAL 24 HOUR
      WHERE e.event_type='click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN c ON e.user_id = c.user_id
      AND e.ts >= c.t1 AND e.ts <= c.t1 + INTERVAL 1 HOUR
      WHERE e.event_type='purchase' GROUP BY e.user_id)
SELECT 'signup' AS stage, count(*) AS n_users FROM s
UNION ALL SELECT 'click_after_signup', count(*) FROM c
UNION ALL SELECT 'purchase_after_click', count(*) FROM p
"""


@register("events_funnel", _FUNNEL_ORACLE)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup -> click (24h) -> purchase (1h):
    per-stage first-occurrence joins, all keyed by user_id so the three
    groupBys and both joins share ONE hash partitioning (no extra
    exchanges after the first shuffle; AQE keeps them co-partitioned)."""
    # SINGLE-PASS funnel: one groupBy(user_id) gathers min signup time and
    # the per-user click/purchase timestamp arrays (conditional collects,
    # partial-aggregated map-side); the stage windows are then array
    # filter/min projections — no joins at all. Exactly two shuffles total
    # (the user groupBy and the final global count), versus the join chain
    # that re-evaluated earlier stages per output row.
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t0"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
        ).alias("_cl"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("_pu"),
    )
    t1 = F.array_min(
        F.filter(
            F.col("_cl"),
            lambda x: (x >= F.col("t0"))
            & (x <= F.col("t0") + F.expr("INTERVAL 24 HOURS")),
        )
    )
    staged = per_user.withColumn("t1", t1).withColumn(
        "t2",
        F.array_min(
            F.filter(
                F.col("_pu"),
                lambda x: (x >= F.col("t1"))
                & (x <= F.col("t1") + F.expr("INTERVAL 1 HOUR")),
            )
        ),
    )
    counts = staged.agg(
        F.count("t0").alias("_n0"),
        F.count("t1").alias("_n1"),
        F.count("t2").alias("_n2"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'signup', _n0, 'click_after_signup', _n1, "
            "'purchase_after_click', _n2) AS (stage, n_users)"
        )
    )


# --- Distributed model fit: quality regression by unrolled GD ----------------
# The training-pipeline op behind learned quality filters (distill a cheap
# linear scorer from a heuristic/teacher signal, score the whole corpus with
# it). Fit = 3 unrolled batch-gradient steps where each step is ONE scan
# producing 4 rounded scalar aggregates (O(D) driver state, the same
# per-iteration-rounding bitwise-parity pattern as graph_pagerank); scoring
# is a map-only pass. At 100 TB: iterations are full-scan aggregations with
# partial (map-side) combine — no shuffle wider than 4 doubles per task.

_LINREG_LR = 0.5


def _linreg_feats_sql() -> dict[str, str]:
    return {
        "x1": "(CAST(least(length(text), 2000) AS DOUBLE) / 1000.0)",
        "x2": T.stopword_ratio_sql("text"),
        "x3": f"({T.avg_token_len_sql('text')} / 10.0)",
        "y": T.quality_score_sql("text"),
    }


def _linreg_oracle(iters: int = 3) -> str:
    f = _linreg_feats_sql()
    base = f"""
WITH feats AS (
  SELECT doc_id, {f['x1']} AS x1, {f['x2']} AS x2, {f['x3']} AS x3,
         {f['y']} AS y
  FROM documents),
w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS a1,
              CAST(0.0 AS DOUBLE) AS a2, CAST(0.0 AS DOUBLE) AS a3)"""
    prev = "w0"
    for i in range(1, iters + 1):
        err = f"(y - ({prev}.b + {prev}.a1*x1 + {prev}.a2*x2 + {prev}.a3*x3))"
        base += f""",
w{i} AS (
  SELECT {prev}.b  + {_LINREG_LR!r} * round(avg({err}), 9)      AS b,
         {prev}.a1 + {_LINREG_LR!r} * round(avg({err} * x1), 9) AS a1,
         {prev}.a2 + {_LINREG_LR!r} * round(avg({err} * x2), 9) AS a2,
         {prev}.a3 + {_LINREG_LR!r} * round(avg({err} * x3), 9) AS a3
  FROM feats CROSS JOIN {prev}
  GROUP BY {prev}.b, {prev}.a1, {prev}.a2, {prev}.a3)"""
        prev = f"w{i}"
    return base + f"""
SELECT doc_id,
       CAST(round(y, 6) AS DOUBLE) AS quality,
       CAST(round({prev}.b + {prev}.a1*x1 + {prev}.a2*x2 + {prev}.a3*x3, 6)
            AS DOUBLE) AS pred_quality
FROM feats CROSS JOIN {prev}
"""


@register("text_quality_linreg", _linreg_oracle())
def q_text_quality_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear-model fit + corpus scoring: 3 batch-gradient steps
    over (length, stopword-ratio, token-length) features against the
    heuristic quality label, then a map-only scoring pass. Each step is one
    partial-aggregated scan reduced to 4 scalars on the driver (gradients
    rounded to 9dp in-engine, the cross-engine determinism recipe); the
    weight-update arithmetic is plain IEEE identical in Python and SQL."""
    docs = load_table(spark, sf_dir, "documents")
    f = _linreg_feats_sql()
    feats = docs.select(
        "doc_id",
        F.expr(f["x1"]).alias("x1"),
        F.expr(f["x2"]).alias("x2"),
        F.expr(f["x3"]).alias("x3"),
        F.expr(f["y"]).alias("y"),
    )
    # lazy: the first gradient agg materializes it; later passes reuse it
    feats = feats.localCheckpoint(eager=False)
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(3):
        pred = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") \
            + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3")
        err = F.col("y") - pred
        row = feats.agg(
            *[F.round(F.avg(err * x), 9).alias(f"g{j}") for j, x in enumerate(xs)]
        ).collect()[0]
        w = [w[j] + _LINREG_LR * float(row[f"g{j}"]) for j in range(4)]
    final = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") \
        + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3")
    return feats.select(
        "doc_id",
        F.round(F.col("y"), 6).cast("double").alias("quality"),
        F.round(final, 6).cast("double").alias("pred_quality"),
    )


# --- TF-IDF over a top-V vocabulary ------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
vocab AS (SELECT tok, df FROM (
    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS rn FROM dfreq
  ) WHERE rn <= 50),
tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id),
nd AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.tok AS token,
       CAST(round(
         (CAST(tf.c AS DOUBLE) / dlen.n)
         * (ln((nd.n_docs + 1.0) / (vocab.df + 1.0)) + 1.0), 6) AS DOUBLE) AS tfidf
FROM tf JOIN vocab ON tf.tok = vocab.tok
JOIN dlen ON tf.doc_id = dlen.doc_id
CROSS JOIN nd
"""


@register("text_tfidf", _TFIDF_ORACLE)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF over the corpus top-50-df vocabulary (the sparse
    retrieval / lexical-feature standard). The vocab + doc count are tiny
    aggregates broadcast back over the token stream; the only big shuffle is
    the (doc_id, tok) partial count. ln() differs across libm in the last
    ulp -> round 6dp on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    dfreq = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    # distributed top-V (TakeOrderedAndProject), not a global 1-partition window
    vocab = dfreq.orderBy(F.col("df").desc(), F.col("tok").asc()).limit(50)
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    dlen = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    n_docs = docs.count()
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.join(F.broadcast(vocab), "tok")
        .join(dlen, "doc_id")
        .select(
            "doc_id",
            F.col("tok").alias("token"),
            F.round((F.col("c").cast("double") / F.col("n")) * idf, 6)
            .cast("double")
            .alias("tfidf"),
        )
    )


# --- Exact media dedup (binary content hash) ---------------------------------

_MEDIA_DEDUP_ORACLE_TMPL = """
WITH {media_sql},
hashed AS (SELECT doc_id, md5(hex(content)) AS content_md5 FROM media)
SELECT content_md5, count(*) AS n_copies, min(doc_id) AS keeper_doc_id
FROM hashed GROUP BY content_md5
"""


def _media_dedup_oracle() -> str:
    from vstream_spark.operators.multimodal import MEDIA_FIXTURE_SQL

    return _MEDIA_DEDUP_ORACLE_TMPL.format(media_sql=MEDIA_FIXTURE_SQL)


@register("media_exact_dedup", _media_dedup_oracle())
def q_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the opaque BINARY media column: md5 of the raw bytes,
    one hash-groupBy (the blob itself reduces to a 16-byte key map-side —
    at 100 TB the shuffle carries hashes, never content)."""
    from vstream_spark.operators.multimodal import media_fixture

    media = media_fixture(load_table(spark, sf_dir, "documents"))
    # md5 over the HEX of the bytes (not the raw blob): duckdb's md5 is
    # VARCHAR-only, and hex is uppercase in both engines — same digest
    return (
        media.select("doc_id", F.md5(F.hex(F.col("content"))).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
    )


# Audio-path analysis over the wav-kind media: treat body bytes as 8-bit PCM
# samples, window into 64-sample frames, and compute RMS / silence / peak —
# the audio triage every multimodal curation pipeline runs before feature
# extraction. Fully oracle-able: both engines read sample values out of the
# hex encoding of the SAME derived bytes (no codec needed), so this one
# hash-matches, complementing the rows-only stub-decode ops.

_AUDIO_WIN = 64
_AUDIO_SILENCE_RMS = 64.0


def _audio_doc_stats(wins: DataFrame) -> DataFrame:
    """Per-document audio stats from per-window ``(doc_id, rms, peak)``
    rows, shared by both audio_stats plans."""
    return wins.groupBy("doc_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(
            F.when(F.col("rms") < _AUDIO_SILENCE_RMS, 1).otherwise(0)
        ).cast("long").alias("silent_windows"),
        F.round(F.sum("rms"), 6).cast("double").alias("rms_sum"),
        F.max("peak").cast("long").alias("peak"),
    )


def _audio_stats_oracle() -> str:
    from vstream_spark.operators.multimodal import MEDIA_FIXTURE_SQL

    return f"""
WITH {MEDIA_FIXTURE_SQL},
wav AS (
  SELECT doc_id, hex(content) AS h, octet_length(content) - 4 AS n
  FROM media WHERE kind = 'wav' AND octet_length(content) > 4),
samples AS (
  SELECT doc_id, i,
         ('0x' || substr(h, 8 + 2*i - 1, 2))::INTEGER AS s,
         ((i - 1) // {_AUDIO_WIN}) AS w
  FROM wav, LATERAL unnest(range(1, n + 1)) AS t(i)),
wins AS (
  SELECT doc_id, w,
         round(sqrt(avg(CAST(s AS DOUBLE) * s)), 6) AS rms,
         max(s) AS peak
  FROM samples GROUP BY doc_id, w)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN rms < {_AUDIO_SILENCE_RMS!r} THEN 1 ELSE 0 END) AS BIGINT)
         AS silent_windows,
       CAST(round(sum(rms), 6) AS DOUBLE) AS rms_sum,
       CAST(max(peak) AS BIGINT) AS peak
FROM wins GROUP BY doc_id
"""


@register("audio_stats", _audio_stats_oracle())
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PCM triage over the wav media: per-64-sample-frame RMS,
    silent-frame count (rms < threshold), per-doc RMS sum and peak
    (sum, not mean: averages of 6dp-quantized window values land exactly on
    rounding half-boundaries and break cross-engine hashing). Pure
    Catalyst — hex + sequence explode + conv read the byte values JVM-side,
    two partial-aggregated groupBys (samples->windows->doc); sqrt/avg are
    IEEE/6dp-rounded so the DuckDB oracle hash-matches. At 100 TB the
    explode is map-local and both aggregations combine map-side."""
    from vstream_spark.operators.multimodal import media_fixture

    media = media_fixture(load_table(spark, sf_dir, "documents"))
    wav = media.filter(
        (F.col("kind") == "wav") & (F.length("content") > 4)
    ).select(
        "doc_id",
        F.hex(F.col("content")).alias("h"),
        (F.length("content") - 4).alias("n"),
    )
    samples = wav.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        "h",
    ).select(
        "doc_id",
        F.conv(
            F.substring(F.col("h"), F.lit(8) + 2 * F.col("i") - 1, 2), 16, 10
        )
        .cast("int")
        .alias("s"),
        F.floor((F.col("i") - 1) / _AUDIO_WIN).cast("long").alias("w"),
    )
    wins = samples.groupBy("doc_id", "w").agg(
        F.round(F.sqrt(F.avg(F.col("s").cast("double") * F.col("s"))), 6).alias(
            "rms"
        ),
        F.max("s").alias("peak"),
    )
    return _audio_doc_stats(wins)


@register("audio_stats_frames", _audio_stats_oracle())
def q_audio_stats_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALED twin of `audio_stats` (r5 #8 / r6 VERDICT #7): identical
    semantics and the identical DuckDB oracle, but the O(bytes) work runs
    frame-level inside Arrow-batched `audio_pcm_frames` instead of a
    one-row-per-byte Catalyst explode — the executor emits one
    exact-integer row per 64-sample FRAME (a 64x row reduction before any
    shuffle), and the float math (sqrt/avg/6dp rounds) stays in the same
    Catalyst expressions as the per-byte path, so the two are
    bit-identical. The per-byte `audio_stats` remains declared as the
    oracle-parity path; THIS is the plan you'd run at 100 TB."""
    from vstream_spark.operators.multimodal import audio_pcm_frames, media_fixture

    media = media_fixture(load_table(spark, sf_dir, "documents"))
    wav = media.filter((F.col("kind") == "wav") & (F.length("content") > 4))
    frames = audio_pcm_frames(wav, win=_AUDIO_WIN)
    # sum_sq/n_samples in double == avg(CAST(s AS DOUBLE)*s): the window sum
    # of <=64 uint8 squares is exact in both, the divide is the same IEEE op
    wins = frames.select(
        "doc_id",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double") / F.col("n_samples")), 6
        ).alias("rms"),
        "peak",
    )
    return _audio_doc_stats(wins)


# DuckDB twin of the full perceptual-hash pipeline (r5 VERDICT #3: this was
# the one registry entry with no oracle). The stub decode -> block-mean
# resize -> dHash chain is deterministic integer arithmetic, so every step
# is SQL-expressible: block sums are exact integer sums (identical in both
# engines), the gradient bit compares the two IEEE means (CAST(s AS
# DOUBLE)/cnt — the same divide numpy's .mean() performs), the 64-bit pack
# goes through HUGEINT and wraps to signed BIGINT exactly like
# uint64.view(int64), and the pair scan is brute-force Hamming — which the
# pigeonhole-exact band LSH on the Spark side must reproduce bit-for-bit.
# colmap/ylo mirror resize_pool's grids: xs = floor(arange(10)*16/9) and
# ys = floor(i*ht/8) (exact: /8 is a power-of-two divide).
def _media_near_dedup_oracle() -> str:
    from vstream_spark.operators.multimodal import MEDIA_FIXTURE_SQL

    return f"""
WITH {MEDIA_FIXTURE_SQL},
imgs AS (
  SELECT doc_id, hex(content) AS h,
         greatest(1, (octet_length(content) - 4) // 16) AS ht
  FROM media),
rowmap AS (
  SELECT doc_id, t.i AS i,
         (t.i * ht) // 8 AS ylo,
         greatest((t.i * ht) // 8 + 1, ((t.i + 1) * ht) // 8) AS yhi,
         h
  FROM imgs, LATERAL unnest(range(0, 8)) t(i)),
colmap(j, xlo, xhi) AS (VALUES (0,0,1),(1,1,3),(2,3,5),(3,5,7),(4,7,8),
                               (5,8,10),(6,10,12),(7,12,14),(8,14,16)),
cells AS (
  SELECT r.doc_id, r.i, c.j,
         sum(('0x' || substr(r.h, 9 + 2 * (yy.yr * 16 + xx.xc), 2))::INTEGER) AS s,
         count(*) AS cnt
  FROM rowmap r
  JOIN colmap c ON true, LATERAL unnest(range(r.ylo, r.yhi)) yy(yr),
       LATERAL unnest(range(c.xlo, c.xhi)) xx(xc)
  GROUP BY r.doc_id, r.i, c.j),
bits AS (
  SELECT a.doc_id, a.i * 8 + a.j AS bit,
         (CAST(b.s AS DOUBLE) / b.cnt) > (CAST(a.s AS DOUBLE) / a.cnt) AS v
  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1),
ph AS (
  SELECT doc_id,
         CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
              THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS phash
  FROM (SELECT doc_id,
               coalesce(sum(CASE WHEN v THEN (1::HUGEINT << bit) END),
                        0::HUGEINT) AS s
        FROM bits GROUP BY doc_id) t)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 6
"""


@register("media_near_dedup", _media_near_dedup_oracle())
def q_media_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs over the media fixture: dHash
    fingerprints, byte-band Hamming LSH candidates (pigeonhole-exact for
    hamming <= 6 over 8 bands), JVM bit_count verify. The decode step is the
    documented deterministic stub, which makes the full chain oracle-able:
    the DuckDB twin recomputes decode+resize+dHash in SQL and brute-forces
    Hamming pairs — hash-matching it proves the LSH banding is lossless."""
    from vstream_spark.operators.multimodal import media_fixture, media_near_dedup

    media = media_fixture(load_table(spark, sf_dir, "documents"))
    return media_near_dedup(media, max_hamming=6, bands=8)


# --- Multi-vector late-interaction retrieval (ColBERT MaxSim) ----------------
# Queries and documents are GROUPS of vectors; score(Q,D) = sum_q max_d
# cos(q,d). Groups are derived deterministically from embeddings: query
# groups = every-25th vector bucketed by hundreds, doc groups = vec_id % 50.

_MAXSIM_ORACLE = f"""
WITH qm AS (
  SELECT CAST(floor(vec_id / 100.0) AS INT) AS gid, vec_id AS mid, embedding
  FROM embeddings WHERE vec_id % 25 = 0),
dm AS (
  SELECT CAST(vec_id % 50 AS INT) AS dgid, vec_id AS id, embedding
  FROM embeddings),
sims AS (
  SELECT qm.gid, qm.mid, dm.dgid,
         {D.cosine_sim_sql("qm.embedding", "dm.embedding")} AS sim
  FROM dm CROSS JOIN qm),
best AS (
  SELECT gid, mid, dgid, max(sim) AS best FROM sims GROUP BY gid, mid, dgid),
scores AS (
  SELECT gid, dgid, CAST(round(sum(best), 6) AS DOUBLE) AS score
  FROM best GROUP BY gid, dgid)
SELECT gid, dgid, score, rank FROM (
  SELECT gid, dgid, score,
         CAST(row_number() OVER (PARTITION BY gid
                                 ORDER BY score DESC, dgid ASC) AS INTEGER) AS rank
  FROM scores) WHERE rank <= 5
"""


@register("knn_maxsim", _MAXSIM_ORACLE)
def q_knn_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim: top-5 doc groups per multi-vector query group.
    Member-level sims in codegen (broadcast BNLJ), then max/sum partial aggs
    stepping down the key space, final per-gid top-k window. The sum is
    rounded 6dp on BOTH engines before ranking (cross-engine float-order)."""
    from vstream_spark.operators.similarity import maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qm = _query_set(emb).select(
        F.floor(F.col("qid") / 100.0).cast("int").alias("gid"),
        F.col("qid").alias("mid"),
        "emb",
    )
    dm = emb.select(
        (F.col("vec_id") % 50).cast("int").alias("dgid"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("emb"),
    )
    return maxsim_topk(qm, dm, k=5)


# --- Skew-mitigation salted join ---------------------------------------------

_SALTED_JOIN_ORACLE = """
SELECT o.o_orderpriority AS orderpriority, count(*) AS n_items,
       CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register("rel_salted_join", _SALTED_JOIN_ORACLE)
def q_rel_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-side salted join (8 buckets, whole-row hash salt, forced
    shuffled-hash) — the manual skew weapon for joins AQE can't split.
    Result is bitwise the plain join: salting is a physical rewrite only."""
    from vstream_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, on="l_orderkey", n_salts=8)
    return joined.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("_rev"), 2).cast("double").alias("revenue"),
    )


# --- Sliding-window streaming rollup ----------------------------------------
# Each event contributes to window/slide = 4 overlapping windows; the oracle
# replays that replication with an explicit k in 0..3 shift of the 15-minute
# bucket (time_bucket and Spark's window() share the epoch-aligned origin).

_SLIDING_ROLLUP_ORACLE = """
WITH slid AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - (k.range * INTERVAL 15 MINUTE) AS wstart,
         event_type, value
  FROM events CROSS JOIN range(4) k)
SELECT wstart AS window_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(value), 4) AS DOUBLE) AS sum_value
FROM slid GROUP BY wstart, event_type
"""


@register("streaming_sliding_rollup", _SLIDING_ROLLUP_ORACLE)
def q_streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding every 15min, run as a real availableNow stream:
    the overlap replication happens map-side; state = one aggregate per open
    (window, type), watermark-evicted."""
    from vstream_spark.streaming.pipeline import (
        read_event_stream,
        streaming_sliding_rollup,
    )

    roll = _rounded_rollup(streaming_sliding_rollup(read_event_stream(spark, sf_dir)))
    return _drain(
        roll, "_streaming_sliding_result", f"{sf_dir}/events.parquet", "complete"
    )


# --- Cohort retention matrix -------------------------------------------------

_RETENTION_ORACLE = """
WITH cohort AS (
  SELECT user_id, strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
act AS (
  SELECT DISTINCT e.user_id, strftime(date_trunc('week', e.ts), '%Y-%m-%d') AS active_week
  FROM events e)
SELECT c.cohort_week, a.active_week, count(*) AS n_users
FROM cohort c JOIN act a
  ON c.user_id = a.user_id AND a.active_week >= c.cohort_week
GROUP BY c.cohort_week, a.active_week
"""


@register("events_retention", _RETENTION_ORACLE)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (signup week x active week, distinct users).
    cohort + activity + join all keyed user_id — one partitioning reused;
    the output is O(weeks^2) cells regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    # ISO week-start STRINGS (not DATE): pandas-side a Spark DATE collects as
    # python date objects while duckdb's DATE arrives datetime64 — same
    # values, different dtype, hash-mismatch. Strings compare identically
    # (and >= ordering on ISO strings == date ordering).
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias(
                "cohort_week"
            )
        )
    )
    act = ev.select(
        "user_id",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "active_week"
        ),
    ).distinct()
    return (
        cohort.join(act, "user_id")
        .filter(F.col("active_week") >= F.col("cohort_week"))
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("n_users"))
    )


# --- Bigram LM document scoring ----------------------------------------------
# Self-trained add-one-smoothed bigram LM: score(doc) = avg log P(w2 | w1).
# The perplexity-flavored fluency signal of C4/CCNet-style curation, using
# only corpus statistics (no external model).

_BIGRAM_LM_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(list_zip(t[1:len(t)-1], t[2:len(t)]),
                               p -> p[1] || ' ' || p[2])) AS bigram,
         unnest(t[1:len(t)-1]) AS w1
  FROM toks WHERE len(t) >= 2),
bc AS (SELECT bigram, count(*) AS c2 FROM bi GROUP BY bigram),
uc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY w1),
v AS (SELECT count(DISTINCT bigram) AS nv FROM bi)
SELECT bi.doc_id,
       CAST(round(avg(ln((bc.c2 + 1.0) / (uc.c1 + v.nv))), 6) AS DOUBLE) AS avg_logp,
       count(*) AS n_bigrams
FROM bi JOIN bc USING (bigram) JOIN uc USING (w1) CROSS JOIN v
GROUP BY bi.doc_id
"""


@register("text_bigram_lm", _BIGRAM_LM_ORACLE)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained smoothed bigram LM fluency score per document. Two
    count aggregations keyed by bigram/w1 joined back to the token stream;
    the vocab size is ONE driver scalar. avg(ln) rounded 6dp (cross-engine
    float order + libm ln ulp)."""
    bi = _bigrams(load_table(spark, sf_dir, "documents"))
    bc = bi.groupBy("bigram").agg(F.count("*").alias("c2"))
    uc = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    nv = bi.select("bigram").distinct().count()
    return (
        bi.join(bc, "bigram")
        .join(uc, "w1")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log((F.col("c2") + 1.0) / (F.col("c1") + F.lit(float(nv))))), 6
            )
            .cast("double")
            .alias("avg_logp"),
            F.count("*").alias("n_bigrams"),
        )
    )


# --- Temperature-scaled mixture sampling -------------------------------------

from vstream_spark.operators.sample import (  # noqa: E402
    temperature_sample,
    temperature_sample_sql,
)


@register(
    "sample_temperature",
    temperature_sample_sql(0.5, "source", table="documents", key_sql="doc_id"),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 temperature rebalancing across document sources (the
    multilingual upsampling rule): output shares follow count^alpha.
    Closed-form per-stratum keep rate sqrt(c_min/c_g) — IEEE-exact on both
    engines — then the usual md5-threshold keep decision (zero shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(docs, alpha=0.5, stratum_col="source")


# --- Two-stage retrieval: quantized candidates -> full-precision re-rank -----
# THE production ANN serving pattern (SQ/PQ first pass, exact re-rank of a
# small candidate set): 4x less memory bandwidth in the scan stage, exactness
# restored where it matters. Deterministic end to end, so it hash-matches.

_RERANK_CAND_K, _RERANK_K = 50, 10

_KNN_RERANK_ORACLE = f"""
{_INT8_CTES}
stage1 AS (
  SELECT qid, neighbor_id FROM (
    SELECT q.vec_id AS qid, v.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY {D.distance_sql("q.embedding", "v.emb", "l2")} ASC,
                      v.vec_id ASC) AS rn
    FROM deq v
    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 25 = 0) q
  ) WHERE rn <= {_RERANK_CAND_K}),
rescored AS (
  SELECT s1.qid, s1.neighbor_id,
         {D.distance_sql("q.embedding", "v.embedding", "l2")} AS distance
  FROM stage1 s1
  JOIN embeddings v ON v.vec_id = s1.neighbor_id
  JOIN embeddings q ON q.vec_id = s1.qid)
SELECT qid, neighbor_id, distance, rank FROM (
  SELECT qid, neighbor_id, distance,
         CAST(row_number() OVER (PARTITION BY qid
              ORDER BY distance ASC, neighbor_id ASC) AS INTEGER) AS rank
  FROM rescored) WHERE rank <= {_RERANK_K}
"""


@register("knn_rerank", _KNN_RERANK_ORACLE)
def q_knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage search: int8-quantized first pass selects 50 candidates per
    query (cheap scan surface), full-precision re-rank cuts to 10. The
    re-rank join touches only Q x 50 rows — the expensive exact fold runs on
    0.1% of the pairs the one-stage exact search would."""
    from vstream_spark.operators.knn import topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_set(emb)
    cands = knn_exact(
        _int8_vectors(emb), queries, k=_RERANK_CAND_K, metric="l2"
    ).select("qid", "neighbor_id")
    full = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_vemb")
    )
    qfull = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qemb")
    )
    rescored = (
        cands.join(full, "neighbor_id")
        .join(F.broadcast(qfull), "qid")
        .select(
            "qid",
            "neighbor_id",
            D.distance_expr(F.col("_qemb"), F.col("_vemb"), "l2").alias("distance"),
        )
    )
    return topk(rescored, _RERANK_K, dedup=False).select(
        "qid", "neighbor_id", "distance", "rank"
    )


# --- Power iteration (top principal component, covariance-free) --------------
# One distributed step of v <- X^T (X v): the building block of PCA /
# spectral methods at 100 TB — X never materializes a covariance matrix;
# each row contributes x * (x . v) and only D doubles per task survive the
# map-side combine.

_POWER_ITER_ORACLE = """
WITH p AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding, x -> x::DOUBLE)) * 0.125 AS xv
  FROM embeddings),
cells AS (
  SELECT CAST(r.range AS INT) AS dim,
         CAST(p.embedding[CAST(r.range AS INT) + 1] AS DOUBLE) * p.xv AS contrib
  FROM p CROSS JOIN range(64) r)
SELECT dim, CAST(round(sum(contrib), 4) AS DOUBLE) AS component,
       count(*) AS n_rows
FROM cells GROUP BY dim
"""


@register("emb_power_iteration", _POWER_ITER_ORACLE)
def q_emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the top principal component with
    v0 = (1/8,...,1/8): per-row dot product x.v0 in a codegen fold, then a
    posexplode + per-dim sum whose shuffle is D map-side-combined doubles
    per task. Rounded 4dp (cross-engine summation order over all rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xv = (
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        * F.lit(0.125)
    )
    p = emb.select("vec_id", "embedding", xv.alias("xv"))
    cells = p.select(
        F.posexplode(F.col("embedding")).alias("dim", "_val"), F.col("xv")
    ).select("dim", (F.col("_val").cast("double") * F.col("xv")).alias("contrib"))
    return cells.groupBy("dim").agg(
        F.round(F.sum("contrib"), 4).cast("double").alias("component"),
        F.count("*").alias("n_rows"),
    )


# --- Distributed PCA over the embeddings (fit + project, self-gated) ---------


@register_gate(
    "emb_pca_gate", "check_name, ok",
    ["orthonormal", "variance_explained", "projection_consistent"],
)
def q_emb_pca_gate(spark: SparkSession, sf_dir: str) -> dict:
    """Distributed PCA end-to-end: covariance by Arrow-batch partial
    moments (O(batches * D^2) shuffle cells, rows never collect), D x D
    eigh on the driver, map-only JVM-fold projection. The gate proves
    (1) the components are orthonormal, (2) the top-8 explain a
    non-trivial variance share, and (3) the DISTRIBUTED projection's
    per-component variance matches the fit's eigenvalues to 1e-6 —
    i.e. the two halves of the operator agree on the same data."""
    import numpy as np

    from vstream_spark.operators.cluster import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    k = 8
    mean, comps, eigvals = pca_fit(emb, k=k)
    ortho_ok = np.max(np.abs(comps @ comps.T - np.eye(k))) < 1e-8
    proj = pca_project(emb, mean, comps)
    # distributed variance per component (E[pc^2] - E[pc]^2)
    aggs = proj.agg(
        *[F.avg(F.col(f"pc{j}") * F.col(f"pc{j}")).alias(f"m2_{j}") for j in range(k)],
        *[F.avg(f"pc{j}").alias(f"m1_{j}") for j in range(k)],
    ).collect()[0]
    proj_var = np.array(
        [float(aggs[f"m2_{j}"]) - float(aggs[f"m1_{j}"]) ** 2 for j in range(k)]
    )
    consistent_ok = np.max(np.abs(proj_var - eigvals)) < 1e-6
    # variance explained: eigvals vs the covariance trace (sum of ALL
    # eigvals) — full k is the probed embedding dimension, not a literal,
    # so a wider table can't silently truncate the denominator
    dim = len(emb.select("embedding").head()[0])
    _, _, all_vals = pca_fit(emb, k=dim)
    var_ratio = float(eigvals.sum() / all_vals.sum())
    return {
        "orthonormal": ortho_ok,
        "variance_explained": var_ratio >= 0.2,
        "projection_consistent": consistent_ok,
    }


# --- q21-shape: multi-correlated EXISTS / NOT EXISTS -------------------------
# "Suppliers who were the only late supplier on a multi-supplier order".
# (Late := shipped >90 days after order date — the schema's commitdate-free
# analog.) The EXISTS/NOT EXISTS pair compiles to LEFT SEMI + LEFT ANTI hash
# joins, all keyed l_orderkey, sharing one partitioning.

_LATE_SUPPLIER_ORACLE = """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F' AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
SELECT s.s_name, count(*) AS numwait FROM late l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
"""


@register("rel_late_supplier_blame", _LATE_SUPPLIER_ORACLE)
def q_rel_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21 shape: correlated EXISTS -> LEFT SEMI, NOT EXISTS -> LEFT ANTI,
    both keyed on l_orderkey so the self-joins reuse one hash partitioning;
    final top-20 is a distributed TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.alias("l")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").alias("o"),
            F.col("l.l_orderkey") == F.col("o.o_orderkey"),
        )
        .filter(F.col("l.l_shipdate") > F.col("o.o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .select("l.l_orderkey", "l.l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    cond2 = (F.col("l1.l_orderkey") == F.col("l2.l_orderkey")) & (
        F.col("l1.l_suppkey") != F.col("l2.l_suppkey")
    )
    cond3 = (F.col("l1.l_orderkey") == F.col("l3.l_orderkey")) & (
        F.col("l1.l_suppkey") != F.col("l3.l_suppkey")
    )
    blamed = l1.join(l2, cond2, "left_semi").join(l3, cond3, "left_anti")
    return (
        blamed.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# --- Z-score anomaly detection -----------------------------------------------

_ANOMALY_ORACLE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       CAST(round((e.value - s.mu) / s.sd, 4) AS DOUBLE) AS z
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.mu) / s.sd) > 3.0
"""


@register("events_anomaly", _ANOMALY_ORACLE)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|z| > 3 outliers per event_type: one tiny stats aggregate broadcast
    back over the scan — monitoring's bread-and-butter shape. (The data's
    minimum distance to the 3.0 boundary is >=2e-4 at every test SF, so
    cross-engine ulp drift in mu/sd cannot flip membership; z rounds 4dp.)"""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id", "event_type", F.round(z, 4).cast("double").alias("z")
        )
    )


# --- Search over a compacted store (C2/C6 semantics contract) ----------------
# The insert/delete stream is upserted in three micro-batch slices (per-batch
# LWW annihilation, surviving delete markers flushed as tombstones), then
# size-tiered compaction merges the segments — and the TTL+LWW search over
# the compacted store must hash-match the SAME oracle as knn_ttl_delete:
# compaction is a physical rewrite with zero semantic drift.


@register("knn_compacted", _KNN_TTL_ORACLE)
def q_knn_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL + delete search over an upserted-then-COMPACTED segment store:
    same oracle as knn_ttl_delete — proving the LSM maintenance path
    (per-batch annihilation, tombstone persistence, event-time-ranged
    compaction) never changes query results."""

    def fill(store) -> None:
        vectors = vectors_fixture(spark, sf_dir)
        for slot in range(3):
            store.upsert_batch(vectors.filter(F.col("id") % 3 == slot))
        assert len(store.segments()) == 3
        store.compact()

    store, _ = _store(spark, sf_dir, "knn-compact-store-", fill)
    # (id, emb, event_time, op) across compacted segs
    return _ttl_lww_search(spark, sf_dir, store.read())


# --- Bounded-state streaming dedup (dropDuplicatesWithinWatermark) -----------

_STREAMING_DEDUP_BOUNDED_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("streaming_dedup_bounded", _STREAMING_DEDUP_BOUNDED_ORACLE)
def q_streaming_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production streaming dedup: ``dropDuplicatesWithinWatermark`` keeps
    state only for the watermark window (evicted after, re-occurrences
    re-emit — proven in test_bounded_dedup_evicts_and_reemits) instead of
    the unbounded key universe ``streaming_dedup`` holds. Declared here with
    a watermark covering the fixture's span, so the drained availableNow run
    equals DISTINCT and hash-matches; projection to the key columns makes
    the result processing-order-independent."""
    from vstream_spark.streaming.pipeline import (
        read_event_stream,
        streaming_dedup_keys_bounded,
    )

    ded = streaming_dedup_keys_bounded(
        read_event_stream(spark, sf_dir), ["user_id", "event_type"],
        watermark="40 days",
    ).select("user_id", "event_type")
    return _drain(ded, "_streaming_dedup_bounded", f"{sf_dir}/events.parquet")


# --- Odyssey (P8) in EXACT mode with a full hash-match oracle ----------------
# Odyssey replicates data to every member of its SAX group and sends each
# query to exactly one member per group — complete coverage by construction,
# so unlike the pruning partitioners its dataflow result is EXACT and can be
# held to the same bitwise oracle as brute force (upgrade over the recall
# gate, which still covers its skew-relief variants).


@register("knn_odyssey_exact", _knn_oracle("l2"))
def q_knn_odyssey_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_partitioned (Catalyst fold distances — the worker's numpy matmul
    differs in the last ulp and flips near-ties) through the odyssey
    exchange: the hash-match proves group replication + one-member-per-group
    query routing covers every vector exactly once."""
    vectors, queries = _emb_pair(spark, sf_dir)
    conf = PartitionerConf(kind="odyssey", num_partitions=8)
    return knn_partitioned(vectors, queries, conf, k=10, metric="l2")


# --- Snapshot (time-travel) search over the manifest log ---------------------
# RocksDB hands every open snapshot a SequenceNumber-pinned Version
# (db/version_set.cc); the Spark-native analog is a manifest-version-pinned
# read: the log only ever ADDS files, so any committed version can be
# re-materialized. The declared query flushes the fixture stream in two
# slices, pins the version after the FIRST flush, and proves a search through
# the pinned snapshot sees exactly the first slice — while the same store's
# latest read serves both.

_KNN_SNAPSHOT_ORACLE = _ttl_lww_oracle(
    f"all_vectors AS ({VECTORS_FIXTURE_SQL}),\n"
    "vectors AS (SELECT * FROM all_vectors WHERE id % 2 = 0)"
)


@register("knn_snapshot", _KNN_SNAPSHOT_ORACLE)
def q_knn_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL + delete search through a PINNED manifest version: the store has
    flushed a second slice since, but the snapshot read re-materializes the
    first flush exactly (oracle = the TTL/LWW search restricted to slice 1).
    Same guarantee RocksDB gives a reader holding GetSnapshot() across
    later writes."""

    def fill(store) -> int:
        vectors = vectors_fixture(spark, sf_dir)
        store.upsert_batch(vectors.filter(F.col("id") % 2 == 0))
        v_pin = store.manifest.version()
        store.upsert_batch(vectors.filter(F.col("id") % 2 == 1))
        return v_pin

    store, v_pin = _store(spark, sf_dir, "knn-snap-store-", fill)
    return _ttl_lww_search(spark, sf_dir, store.read(as_of=v_pin))


# --- Semantic dedup (SemDeDup shape: cluster, then near-dup within cluster) --
# At corpus scale all-pairs cosine is impossible; the published recipe
# (SemDeDup, Abbas et al. 2023) clusters embeddings with k-means and only
# compares WITHIN a cluster — O(sum c_i^2) instead of O(N^2). Declared with a
# deterministic centroid pick (the K vectors with smallest md5(vec_id) — the
# same seeding both engines can compute) so the full pipeline — assignment
# argmin + intra-cluster pairs — is exactly reproducible and hash-matched.
# K is DERIVED FROM THE DATA: ceil(sqrt(N)) (floored at 8), so pair work is
# Σc² ≈ N²/K = N^1.5, never quadratic — a pinned K makes Σc² ≈ N²/K, i.e.
# quadratic in disguise (r9 VERDICT #2 measured the K=8 variant at 35× on
# 10× data; SCALE.md's own doctrine is "at 100 TB K scales up, √N
# clusters"). Both engines compute K from COUNT(*) of the same table with
# the same IEEE sqrt/ceil, so the centroid sets — and the hash — agree.

_DEDUP_SEMANTIC_ORACLE = f"""
WITH k AS (
  SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS INTEGER)) AS kk FROM embeddings),
ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM embeddings),
cent AS (
  SELECT vec_id AS cluster_id, embedding AS cemb FROM ranked, k WHERE rn <= k.kk),
scored AS (
  SELECT e.vec_id, e.embedding, c.cluster_id,
         {D.l2sq_sql("e.embedding", "c.cemb")} AS d
  FROM embeddings e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster_id ASC) AS rn
    FROM scored) WHERE rn = 1),
pairs AS (
  SELECT CAST(a.cluster_id AS BIGINT) AS cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
         {D.cosine_sim_sql("a.embedding", "b.embedding")} AS cosine_sim
  FROM assign a JOIN assign b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
SELECT cluster_id, id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.4
"""


@register("dedup_semantic", _DEDUP_SEMANTIC_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: nearest-centroid assignment (broadcast centroids, rank-1
    window) then cosine near-dup pairs ONLY within a cluster — the pair join
    shuffles on cluster_id, so pair work is sum-of-squared-cluster-sizes,
    never N^2. All distances are the shared JVM folds, hash-matched against
    the same pipeline in DuckDB. Member norms are hoisted OUT of the pair
    loop (the MaxSim lesson: one fold per pair instead of three — same IEEE
    ops per norm, computed once per member, so results stay bitwise).

    Centroid count K = max(8, ceil(sqrt(N))) is derived from the corpus so
    the within-cluster pair volume stays ~N^1.5 at any scale (SemDeDup's
    published runs use K proportional to corpus size for the same reason;
    the pinned-K variant measured quadratic — 35x on 10x data — in r9).
    The count() feeding K is a bare parquet scan: parquet-metadata only,
    no data read."""
    from vstream_spark.functions.distance import dot, norm
    from vstream_spark.operators.cluster import assign_nearest

    emb = load_table(spark, sf_dir, "embeddings")
    n_cent = max(8, int(math.ceil(math.sqrt(float(emb.count())))))
    cent = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_cent)
        .select(F.col("vec_id").alias("cluster_id"), F.col("embedding").alias("cemb"))
    )
    assigned = assign_nearest(emb, cent, metric="l2").select("vec_id", "cluster_id")
    members = assigned.join(emb.select("vec_id", "embedding"), "vec_id").withColumn(
        "_n", norm(F.col("embedding"))
    )
    # both sides of the pair self-join read members: materialize the
    # assignment ONCE (the rank-1 window is the expensive full-data shuffle;
    # without this the whole pipeline executes twice — same trick as the
    # components iteration)
    members = members.localCheckpoint()
    # Grid-block the within-cluster pair join (r9 sf1 rehearsal): the join's
    # shuffle keys on cluster_id alone, so its task fan-out is capped at the
    # CLUSTER COUNT no matter how many cores exist — 299s at sf1 on
    # 4 AQE-coalesced tasks where the same pair work runs ~10x faster at full
    # width. Each side hash-splits into B blocks and each (blockA, blockB)
    # cell becomes its own join key: pair (u, v) meets exactly once (at cell
    # (blk(u), blk(v))), replication is B per side — the sqrt scheme, so a
    # 1000-core cluster pays ~sqrt(cores) copies, not cores. B = sqrt(par)
    # rather than sqrt(par/K): centroid assignment is SKEWED (a dominant
    # cluster holds most of the quadratic work), so balance must not assume
    # clusters contribute evenly — B^2 cells split even a single giant
    # cluster across the whole machine. The SCALE.md skew note for SemDeDup
    # names exactly this mitigation. explicit_width on the full key keeps
    # AQE from byte-coalescing the verify stage back down (same trap as the
    # LSH similarity join; the shared guard since r10 VERDICT #2).
    from vstream_spark.operators.util import explicit_width

    par = spark.sparkContext.defaultParallelism
    n_blocks = max(1, int(math.ceil(math.sqrt(float(par)))))
    blocks = F.array(*[F.lit(j) for j in range(n_blocks)])
    a = explicit_width(
        members.select(
            F.col("cluster_id"),
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("emb_a"),
            F.col("_n").alias("_na"),
            F.pmod(F.hash("vec_id"), F.lit(n_blocks)).alias("_blk_a"),
            F.explode(blocks).alias("_blk_b"),
        ),
        "cluster_id", "_blk_a", "_blk_b",
    )
    b = explicit_width(
        members.select(
            F.col("cluster_id").alias("_cb"),
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("emb_b"),
            F.col("_n").alias("_nb"),
            F.explode(blocks).alias("_cblk_a"),
            F.pmod(F.hash("vec_id"), F.lit(n_blocks)).alias("_cblk_b"),
        ),
        "_cb", "_cblk_a", "_cblk_b",
    )
    denom = F.col("_na") * F.col("_nb")
    sim = F.when(
        denom != 0.0, dot(F.col("emb_a"), F.col("emb_b")) / denom
    ).otherwise(F.lit(0.0))
    return (
        a.join(
            b,
            (F.col("cluster_id") == F.col("_cb"))
            & (F.col("_blk_a") == F.col("_cblk_a"))
            & (F.col("_blk_b") == F.col("_cblk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= 0.4)
        .select("cluster_id", "id_a", "id_b", "cosine_sim")
    )


# --- Mean pooling: group embedding from member embeddings --------------------
# The standard way a doc/query embedding is built from chunk/token embeddings
# (and the read side of the Lloyd mean). Long-form output (group, dim, mean)
# keeps the shuffle at O(groups*dims) map-side-combined cells.

_MEAN_POOL_ORACLE = """
SELECT label, CAST(t.i AS INTEGER) AS dim,
       CAST(round(avg(CAST(embedding[t.i + 1] AS DOUBLE)), 6) AS DOUBLE) AS mean_val
FROM embeddings, range(0, 64) t(i)
GROUP BY label, t.i
"""


@register("emb_mean_pool", _MEAN_POOL_ORACLE)
def q_emb_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding via posexplode + partial-aggregated
    groupBy(label, dim): the exchange carries O(labels*dims) (sum,count)
    cells, not rows. 6dp round on both engines absorbs partial-agg
    summation-order ulps."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    return ex.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).cast("double").alias("mean_val")
    )


# --- Table profiling (one-pass data-quality stats) ---------------------------

_PROFILE_ORACLE = """
SELECT 'doc_id' AS column_name, count(*) AS n_rows,
       count(CASE WHEN doc_id IS NULL THEN 1 END) AS n_null,
       count(DISTINCT doc_id) AS n_distinct
FROM documents
UNION ALL
SELECT 'lang', count(*), count(CASE WHEN lang IS NULL THEN 1 END),
       count(DISTINCT lang) FROM documents
UNION ALL
SELECT 'source', count(*), count(CASE WHEN source IS NULL THEN 1 END),
       count(DISTINCT source) FROM documents
UNION ALL
SELECT 'n_chars', count(*), count(CASE WHEN n_chars IS NULL THEN 1 END),
       count(DISTINCT n_chars) FROM documents
"""


@register("table_profile", _PROFILE_ORACLE)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan profile of the documents table: per-column null count +
    exact distinct cardinality, computed in a single aggregation and
    unpivoted via stack — O(columns) result rows at any table size."""
    from vstream_spark.operators.profile import profile

    docs = load_table(spark, sf_dir, "documents")
    return profile(docs, ["doc_id", "lang", "source", "n_chars"])


# --- Stream-static enrichment join -------------------------------------------

_STREAMING_ENRICH_ORACLE = """
WITH prof AS (
  SELECT user_id, count(*) AS user_n_events,
         CAST(round(avg(value), 6) AS DOUBLE) AS user_avg_value
  FROM events GROUP BY user_id)
SELECT e.event_id, e.user_id, e.event_type, p.user_n_events, p.user_avg_value
FROM events e LEFT JOIN prof p ON e.user_id = p.user_id
"""


@register("streaming_enrich", _STREAMING_ENRICH_ORACLE)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich a live event stream with a static per-user profile table
    (historical count + mean value): the profile is broadcast into every
    micro-batch, the stream side never shuffles, and no join state
    accumulates. Drained availableNow == the batch LEFT JOIN oracle."""
    from vstream_spark.streaming.pipeline import read_event_stream, streaming_enrich

    events = load_table(spark, sf_dir, "events")
    prof = events.groupBy("user_id").agg(
        F.count("*").alias("user_n_events"),
        F.round(F.avg("value"), 6).cast("double").alias("user_avg_value"),
    )
    enriched = streaming_enrich(read_event_stream(spark, sf_dir), prof)
    return _drain(enriched, "_streaming_enrich", None)


# --- Bulk erasure (delete-by-predicate maintenance op) -----------------------
# Beyond per-record stream deletes (W2), a mutable store needs bulk logical
# erasure: one tombstone segment masks every matching id via LWW, no data
# rewrite. The oracle replays the identical semantics: the fixture stream
# plus one synthetic delete marker per erased id, through the same TTL/LWW
# search.

_GDPR_MARKER_T = "1000 * (SELECT count(*) FROM embeddings) + 500"

_KNN_ERASE_ORACLE = _ttl_lww_oracle(f"""base AS ({VECTORS_FIXTURE_SQL}),
vectors AS (
  SELECT * FROM base
  UNION ALL
  SELECT id, emb, CAST({_GDPR_MARKER_T} AS BIGINT) AS event_time, ttl, 'D' AS op
  FROM base WHERE op = 'I' AND id % 5 = 0
)""")


@register("knn_erase", _KNN_ERASE_ORACLE)
def q_knn_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search after ``delete_where(id % 5 == 0)``: the erased ids are
    invisible (LWW tombstones win), everything else ranks identically —
    hash-matched against the stream-delete semantics replayed in SQL."""

    def fill(store) -> None:
        store.upsert_batch(vectors_fixture(spark, sf_dir))
        n = load_table(spark, sf_dir, "embeddings").count()
        store.delete_where(F.col("id") % 5 == 0, event_time=1000 * n + 500)

    store, _ = _store(spark, sf_dir, "knn-erase-store-", fill)
    return _ttl_lww_search(spark, sf_dir, store.read())


# --- Weighted sampling without replacement (Efraimidis-Spirakis) -------------

def _weighted_sample_oracle() -> str:
    from vstream_spark.operators.sample import es_key_sql

    k = es_key_sql("doc_id", "n_chars", 42)
    return f"""
WITH keyed AS (
  SELECT doc_id, source, CAST({k} AS DOUBLE) AS es_key FROM documents)
SELECT doc_id, source, es_key FROM keyed
ORDER BY es_key DESC, doc_id ASC LIMIT 50
"""


@register("sample_weighted", _weighted_sample_oracle())
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample (w = n_chars) via the one-pass A-ES
    top-n — longer docs win proportionally more often, no replacement, and
    the same 50 docs win on any engine or partitioning."""
    from vstream_spark.operators.sample import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, 50, "n_chars").select("doc_id", "source", "es_key")


# --- Keyword (BM25) + hybrid RRF retrieval -----------------------------------
# The capability every dense-vector deployment pairs with: keyword scoring
# and zero-tuning score fusion. Terms are literals so both engines compute
# the identical pipeline.

_BM25_TERMS = ["vector", "scan", "merge"]


def _bm25_top_oracle(n: int = 20) -> str:
    from vstream_spark.operators.retrieval import bm25_sql

    return f"""
WITH scores AS ({bm25_sql(_BM25_TERMS)}),
top AS (SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id ASC LIMIT {n})
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM top
"""


def _bm25_top(spark: SparkSession, sf_dir: str, n: int = 20) -> DataFrame:
    from vstream_spark.operators.retrieval import bm25

    docs = load_table(spark, sf_dir, "documents")
    s = bm25(docs, _BM25_TERMS)
    top = s.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(n)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@register("text_bm25", _bm25_top_oracle())
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a literal term set: token-stream tf/dl
    aggregations + an O(terms) idf broadcast; the top-n is TakeOrdered
    (the rank window runs on the 20 surviving rows only)."""
    return _bm25_top(spark, sf_dir)


_HYBRID_QTEXT = " ".join(_BM25_TERMS)


def _hybrid_oracle(dim: int = 64, n: int = 20, k0: int = 60, k: int = 10) -> str:
    from vstream_spark.operators.retrieval import bm25_sql

    dist = D.distance_sql("q.emb", "v.emb", "cosine")
    return f"""
WITH docs_u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT -1 AS doc_id, '{_HYBRID_QTEXT}' AS text),
toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM docs_u),
{_embed_ctes(dim, "tfb")}
q AS (SELECT emb FROM emb_t WHERE doc_id = -1),
cos AS (
  SELECT v.doc_id, {dist} AS distance FROM emb_t v CROSS JOIN q WHERE v.doc_id >= 0),
cos_top AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY distance ASC, doc_id ASC) AS INTEGER) AS rank
  FROM (SELECT doc_id, distance FROM cos ORDER BY distance ASC, doc_id ASC LIMIT {n})),
bm AS ({bm25_sql(_BM25_TERMS)}),
bm_top AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id ASC LIMIT {n})),
rrf AS (
  SELECT doc_id, sum(1.0 / ({k0} + CAST(rank AS DOUBLE))) AS rrf_score
  FROM (SELECT * FROM bm_top UNION ALL SELECT * FROM cos_top)
  GROUP BY doc_id)
SELECT doc_id, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INTEGER) AS rank
FROM (SELECT doc_id, rrf_score FROM rrf ORDER BY rrf_score DESC, doc_id ASC LIMIT {k})
"""


@register("knn_hybrid_rrf", _hybrid_oracle())
def q_knn_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-20 and embedding-cosine top-20 for the same
    literal query, fused with Reciprocal Rank Fusion (1/(60+rank) sums —
    pure rank arithmetic, bitwise cross-engine). The final top-10 is the
    production hybrid-retrieval serving shape."""
    from vstream_spark.functions.distance import cosine_distance
    from vstream_spark.operators.embed import embed_text
    from vstream_spark.operators.retrieval import rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    qdoc = spark.createDataFrame([(-1, _HYBRID_QTEXT)], "doc_id long, text string")
    # emb_all feeds BOTH the query-vector filter and the corpus scoring
    # side: pin it so the tokenize→hash→aggregate embed pipeline (2
    # exchanges) runs once per action instead of once per branch
    emb_all = embed_text(
        docs.select("doc_id", "text").unionByName(qdoc), dim=64
    ).localCheckpoint(eager=True)
    qemb = emb_all.filter(F.col("doc_id") == -1).select(F.col("emb").alias("qemb"))
    # widen the streamed side: the embed pipeline ends in an aggregation
    # whose AQE-coalesced output would serialize the scoring loop (the same
    # BNLJ parallelism trap knn_exact guards against internally)
    par = spark.sparkContext.defaultParallelism
    cos = (
        emb_all.filter(F.col("doc_id") >= 0)
        .repartition(par)
        .crossJoin(F.broadcast(qemb))
        .select(
            "doc_id",
            cosine_distance(F.col("qemb"), F.col("emb")).alias("distance"),
        )
    )
    w_cos = Window.orderBy(F.col("distance").asc(), F.col("doc_id").asc())
    cos_top = (
        cos.orderBy(F.col("distance").asc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(w_cos).cast("int"))
        .select("doc_id", "rank")
    )
    bm_top = _bm25_top(spark, sf_dir).select("doc_id", "rank")
    fused = rrf_fuse([bm_top, cos_top])
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "rrf_score", "rank")
    )


# --- Diversified rerank gate (MMR) -------------------------------------------


@register_gate(
    "knn_mmr_gate", "check_name, ok", ["k_rows", "subset_and_top1", "diversity"]
)
def q_knn_mmr_gate(spark: SparkSession, sf_dir: str) -> dict:
    """MMR diversity rerank over first-stage exact top-50: the gate proves
    (1) exactly k picks per query, (2) picks come from the candidate set
    with the relevance-best candidate first (MMR's anchor), and (3) the
    reranked lists are no less redundant than plain top-10 on the quantity
    the MMR objective actually penalizes — each pick's max cosine similarity
    to the previously-selected items (Carbonell-Goldstein '98's second term;
    mean pairwise sim is only an empirical tendency, ADVICE r4) — within a
    small data-calibrated margin."""
    from vstream_spark.functions.distance import cosine_similarity
    from vstream_spark.operators.retrieval import mmr_rerank

    vectors, queries = _emb_pair(spark, sf_dir)
    # cache the first stage: every check below re-reads it (subset, top-1,
    # both diversity scans) — without the cache the exact search re-runs 4x
    cands = knn_exact(vectors, queries, k=50, metric="l2").cache()
    nbr_emb = vectors.select(F.col("id").alias("neighbor_id"), "emb")
    joined = (
        cands.join(nbr_emb, "neighbor_id")
        .withColumn("rel", -F.col("distance"))
        .select("qid", "neighbor_id", "emb", "rel")
    )
    mmr = mmr_rerank(joined, k=10, lam=0.5).cache()
    plain = cands.filter(F.col("rank") <= 10).select("qid", "neighbor_id", "rank")

    n_queries = queries.count()
    k_rows_ok = (
        mmr.groupBy("qid").count().filter(F.col("count") != 10).count() == 0
        and mmr.select("qid").distinct().count() == n_queries
    )
    n_mmr = mmr.count()
    subset_ok = (
        mmr.join(cands.select("qid", "neighbor_id"), ["qid", "neighbor_id"]).count()
        == n_mmr
    )
    top1_ok = (
        mmr.filter(F.col("rank") == 1)
        .join(
            plain.filter(F.col("rank") == 1).withColumnRenamed("neighbor_id", "p1"),
            "qid",
        )
        .filter(F.col("neighbor_id") == F.col("p1"))
        .count()
        == n_queries
    )

    def mean_max_sim_to_selected(sel: DataFrame) -> float:
        """Mean over picks (rank >= 2) of each pick's MAX cosine similarity
        to the items selected before it — the redundancy term MMR greedily
        minimizes at every step."""
        withe = sel.join(nbr_emb, "neighbor_id").select(
            "qid", F.col("rank").alias("r"), "emb"
        )
        a = withe.select("qid", F.col("r").alias("ra"), F.col("emb").alias("ea"))
        b = withe.select(
            F.col("qid").alias("_q"), F.col("r").alias("rb"), F.col("emb").alias("eb")
        )
        pairs = a.join(b, (F.col("qid") == F.col("_q")) & (F.col("ra") < F.col("rb")))
        per_pick = pairs.groupBy("qid", "rb").agg(
            F.max(cosine_similarity(F.col("ea"), F.col("eb"))).alias("mx")
        )
        row = per_pick.agg(F.avg("mx").alias("m")).collect()[0]
        return float(row["m"])

    # margin: greedy MMR trades redundancy against relevance (lam=0.5), so a
    # tiny data-dependent increase is legitimate — mirror the quantile gate's
    # small-group tolerance rather than asserting a strict inequality
    diversity_ok = mean_max_sim_to_selected(
        mmr.select("qid", "neighbor_id", "rank")
    ) <= (mean_max_sim_to_selected(plain.select("qid", "neighbor_id", "rank")) + 0.02)
    mmr.unpersist()
    cands.unpersist()
    return {
        "k_rows": k_rows_ok,
        "subset_and_top1": subset_ok and top1_ok,
        "diversity": diversity_ok,
    }


# --- Edit-distance-verified near-dup (MinHash candidates -> Levenshtein) -----
# The verify step real dedup pipelines run after candidate generation:
# sketch collisions propose, character-level distance confirms. Verification
# only ever touches CANDIDATE pairs (never all-pairs), and compares bounded
# 64-char prefixes so per-pair cost is constant.


def _editdist_oracle() -> str:
    cand = _minhash_lsh_oracle()
    return f"""
WITH cand AS ({cand})
SELECT c.doc_a, c.doc_b,
       CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS INTEGER) AS prefix_dist
FROM cand c
JOIN documents a ON a.doc_id = c.doc_a
JOIN documents b ON b.doc_id = c.doc_b
WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 24
"""


@register("dedup_editdist", _editdist_oracle())
def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates confirmed by Levenshtein distance over
    64-char prefixes (<= 24 edits): the propose-then-verify dedup shape —
    the quadratic character comparison runs on candidate pairs only, with
    constant per-pair cost."""
    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs, threshold=0.5).select("doc_a", "doc_b")
    ta = docs.select(
        F.col("doc_id").alias("doc_a"), F.substring("text", 1, 64).alias("_pa")
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"), F.substring("text", 1, 64).alias("_pb")
    )
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("prefix_dist", F.levenshtein("_pa", "_pb").cast("int"))
        .filter(F.col("prefix_dist") <= 24)
        .select("doc_a", "doc_b", "prefix_dist")
    )


# --- End-to-end curation pipeline (filter -> dedup -> split) -----------------
# The composition story: the same operators declared individually chain into
# the canonical corpus-curation pipeline, and the WHOLE chain stays
# hash-matchable because every stage is deterministic. Plan-wise the stages
# fuse: the quality rules and fingerprint are projections on one scan, the
# dedup is one window, the split is hash arithmetic — no stage materializes.


def _pipeline_curate_oracle() -> str:
    from vstream_spark.functions.text import fingerprint_sql, quality_keep_sql
    from vstream_spark.operators.sample import hash_bucket_sql

    b = hash_bucket_sql("doc_id", 42)
    return f"""
WITH kept AS (
  SELECT doc_id, text, source FROM documents
  WHERE {quality_keep_sql("text", "lang")}),
canon AS (
  SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY {fingerprint_sql("text")} ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1)
SELECT doc_id, source,
       CASE WHEN {b} < 100000 THEN 'test'
            WHEN {b} < 900000 THEN 'train'
            ELSE 'val' END AS split
FROM canon
"""


@register("pipeline_curate", _pipeline_curate_oracle())
def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter -> exact dedup (smallest-id survivor) -> deterministic
    train/val/test split, composed from the individually-declared operators
    — one scan, one window, zero extra materialization."""
    from vstream_spark.operators.dedup import dedup_exact
    from vstream_spark.operators.sample import hash_split

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.expr(T.quality_keep_sql("text", "lang")))
    canon_ids = dedup_exact(kept).filter(F.col("is_canonical")).select("doc_id")
    canon = canon_ids.join(kept.select("doc_id", "source"), "doc_id")
    return hash_split(
        canon, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "source", "split")


# --- Heavy-hitter diagnostics ------------------------------------------------

_HEAVY_HITTERS_ORACLE = """
WITH counts AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
tot AS (SELECT sum(n) AS t FROM counts)
SELECT user_id, n,
       CAST(round(CAST(n AS DOUBLE) / (SELECT t FROM tot), 6) AS DOUBLE) AS share,
       CAST(row_number() OVER (ORDER BY n DESC, user_id ASC) AS INTEGER) AS rank
FROM (SELECT user_id, n FROM counts ORDER BY n DESC, user_id ASC LIMIT 10)
"""


@register("events_heavy_hitters", _HEAVY_HITTERS_ORACLE)
def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest keys with traffic share — the skew diagnostic that
    decides between broadcast, salting, and AQE skew-join for any key.
    One map-side-combined count agg + a distributed TakeOrdered; the total
    is an O(1) scalar."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n")).collect()[0][0]
    top = counts.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(10)
    w = Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
    return top.select(
        "user_id",
        "n",
        F.round(F.col("n").cast("double") / F.lit(float(total)), 6)
        .cast("double")
        .alias("share"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# --- BPE vocabulary induction (iterative; rows-only by design) ---------------


@register("text_bpe_merges", None)
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges learned from the corpus (Sennrich et al.): each
    iteration is a distributed pair-count over the word-vocab table + a
    pure-Catalyst fold applying the merge; the corpus is scanned once.
    Iterative -> no SQL oracle (driver records rows-only); determinism and
    parity with a reference single-node BPE are pinned in test_bpe.py."""
    from vstream_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=8)
    rows = [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "merge_rank int, left string, right string, pair_count bigint"
    )


# --- Embedding outlier detection (cosine to corpus centroid) -----------------
# The embedding-space data-quality check: vectors far from the corpus
# centroid are broken/degenerate embeddings (encoder failures, zero rows,
# wrong-modality content). The centroid is the per-dim mean ROUNDED to 6dp
# on both engines (partial-agg order differs; rounding pins the bits), so
# the downstream cosine folds are bitwise-identical.

_EMB_OUTLIERS_ORACLE = f"""
WITH means AS (
  SELECT CAST(t.i AS INTEGER) AS dim,
         CAST(round(avg(CAST(embedding[t.i + 1] AS DOUBLE)), 6) AS DOUBLE) AS mean_val
  FROM embeddings, range(0, 64) t(i) GROUP BY t.i),
centroid AS (SELECT list(mean_val ORDER BY dim) AS c FROM means),
scored AS (
  SELECT vec_id,
         {D.cosine_sim_sql("embedding", "(SELECT c FROM centroid)")} AS cos_centroid
  FROM embeddings)
SELECT vec_id, cos_centroid,
       CAST(row_number() OVER (ORDER BY cos_centroid ASC, vec_id ASC) AS INTEGER) AS rank
FROM (SELECT vec_id, cos_centroid FROM scored ORDER BY cos_centroid ASC, vec_id ASC LIMIT 25)
"""


@register("emb_outliers", _EMB_OUTLIERS_ORACLE)
def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25 vectors least aligned with the corpus centroid. The centroid
    is O(D) driver floats (like every learned-state object here); scoring
    is one map-only cosine fold per row + a distributed TakeOrdered."""
    from vstream_spark.functions.distance import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    means = (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
        .orderBy("dim")
        .collect()
    )
    centroid = F.array(*[F.lit(float(r["m"])) for r in means])
    scored = emb.select(
        "vec_id",
        cosine_similarity(F.col("embedding"), centroid).alias("cos_centroid"),
    )
    top = scored.orderBy(F.col("cos_centroid").asc(), F.col("vec_id").asc()).limit(25)
    w = Window.orderBy(F.col("cos_centroid").asc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# --- Disjunctive predicate pushdown (q19 shape) + window-function breadth ----

_REL_EXTRA2: dict[str, str] = {
    # q19 shape: OR-of-ANDs over a join — Catalyst must push the common
    # branch predicates into both scans and still broadcast the dim side
    "rel_disjunctive_revenue": """
SELECT CAST(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
         AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
         AND l.l_quantity BETWEEN 10 AND 40)
""",
    # lead/lag + cume_dist: per-user event-value deltas and in-user position
    "rel_user_value_delta": """
SELECT event_id, user_id,
       CAST(round(value - (lag(value) OVER w), 6) AS DOUBLE) AS delta_prev,
       CAST(round((lead(value) OVER w) - value, 6) AS DOUBLE) AS delta_next,
       CAST(round(cume_dist() OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS DOUBLE) AS pos
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
}

for _name, _sql in _REL_EXTRA2.items():
    register(_name, _sql)(_make_relational(_sql))


# --- Time-series resample + forward fill -------------------------------------
# Gap filling: regularize an irregular event stream onto a daily grid per
# user and forward-fill missing days — the standard time-series prep step.
# The calendar is generated per user (sequence/explode), so row count is
# users x days; the fill is a running last_value IGNORE NULLS window.

_RESAMPLE_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(round(sum(value), 6) AS DOUBLE) AS day_sum
  FROM events GROUP BY user_id, date_trunc('day', ts)),
span AS (
  SELECT user_id, date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
  FROM events GROUP BY user_id),
cal AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span)
SELECT c.user_id, c.day, d.day_sum,
       last_value(d.day_sum IGNORE NULLS) OVER (
         PARTITION BY c.user_id ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
"""


@register("events_resample", _RESAMPLE_ORACLE)
def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user resample with forward fill: calendar via
    sequence/explode (no driver loop), daily sums partial-aggregated, fill
    as a running last-non-null window. Everything keys on user_id, so the
    join and the window share one partitioning."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.round(F.sum("value"), 6).cast("double").alias("day_sum"))
    span = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    cal = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_sum", F.last("day_sum", ignorenulls=True).over(w))
        .select(
            "user_id",
            F.col("day").cast("timestamp_ntz").alias("day"),
            "day_sum",
            "filled_sum",
        )
    )


# --- Time-series subsequence similarity search -------------------------------
# The UCR-suite / distributed-TS-search shape (and the SAX partitioner's
# home domain): find where a z-normalized query pattern best matches inside
# per-user event-value series. Series are bounded per user (collect is
# per-key, the same contract as sessionize/funnel); every window distance is
# a Catalyst fold, so both engines compute identical IEEE values.

_TS_W = 8
# z-normalized query pattern (a rise-then-fall shape), 6dp literals so both
# engines fold the exact same constants
_TS_QZ = [-1.336306, -0.801784, -0.267261, 0.267261, 0.801784, 1.336306,
          0.534522, -0.534522]


def _ts_match_oracle() -> str:
    qz = "[" + ", ".join(f"{v!r}" for v in _TS_QZ) + "]"
    w = _TS_W
    return f"""
WITH ser AS (
  SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS v
  FROM events WHERE value IS NOT NULL GROUP BY user_id),
wins AS (
  SELECT user_id, v, unnest(generate_series(0, len(v) - {w})) AS st
  FROM ser WHERE len(v) >= {w}),
scored AS (
  SELECT user_id, CAST(st AS INTEGER) AS start_idx,
         v[st + 1 : st + {w}] AS w8,
         list_sum(v[st + 1 : st + {w}]) / {w} AS m,
         list_sum(list_transform(v[st + 1 : st + {w}], x -> x * x)) / {w} AS m2
  FROM wins),
dists AS (
  SELECT user_id, start_idx,
         CAST(round(list_sum(list_transform(list_zip(w8, {qz}::DOUBLE[]),
           p -> (((p[1] - m) / (CASE WHEN m2 - m * m > 0 THEN sqrt(m2 - m * m) ELSE 1.0 END)) - p[2])
              * (((p[1] - m) / (CASE WHEN m2 - m * m > 0 THEN sqrt(m2 - m * m) ELSE 1.0 END)) - p[2]))), 6) AS DOUBLE) AS dist
  FROM scored)
SELECT user_id, start_idx, dist,
       CAST(row_number() OVER (ORDER BY dist ASC, user_id ASC, start_idx ASC) AS INTEGER) AS rank
FROM (SELECT * FROM dists ORDER BY dist ASC, user_id ASC, start_idx ASC LIMIT 10)
"""


@register("events_ts_match", _ts_match_oracle())
def q_events_ts_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 best z-normalized matches of a literal query pattern across
    all users' value series: one ordered window pass per user — each event
    row picks up the next w-1 values via ``lead`` and scores its window
    with pure Catalyst folds (mean, variance, z-distance), no Python, one
    final distributed TakeOrdered.

    The original formulation (collect_list per user -> explode one row per
    window start) carried the user's FULL series array on every window row:
    a 1M-event user produced 1M rows x 8 MB arrays — the sf1 rehearsal's
    prime super-linear suspect. The lead() form keeps one row per event
    with exactly w doubles, scales linearly in events, and bounds per-user
    state at the window sort. The window array is assembled in the same
    element order and scored by the identical fold expressions, so every
    IEEE value (and the 6dp-rounded oracle hash) is unchanged."""
    w = _TS_W
    qz = F.array(*[F.lit(v) for v in _TS_QZ])
    ev = load_table(spark, sf_dir, "events")
    # same per-user ordering as the oracle's list(... ORDER BY ts, event_id)
    # (value as a final tiebreak mirrors sort_array's struct comparison)
    ord_w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc(), F.col("x").asc()
    )
    # NULL values are dropped BEFORE the sequence is formed (r7 ADVICE #3):
    # the old collect_list form silently skipped nulls, so a null row must
    # not occupy a window position or shift start_idx for later windows.
    # The oracle's ser CTE carries the matching WHERE value IS NOT NULL.
    base = ev.filter(F.col("value").isNotNull()).select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("x")
    )
    wins = base.select(
        "user_id",
        (F.row_number().over(ord_w) - 1).cast("int").alias("start_idx"),
        F.array(
            F.col("x"), *[F.lead("x", j).over(ord_w) for j in range(1, w)]
        ).alias("w8"),
    ).filter(~F.array_contains(F.transform(F.col("w8"), lambda x: x.isNull()), True))

    # m and sd hoisted to COLUMNS before the z-normalize lambda references
    # them: inlined, Catalyst re-evaluates the mean fold 6x and the m2 fold
    # 4x PER ARRAY ELEMENT (higher-order functions are interpreted and never
    # CSE'd inside a lambda) — the same pathology quantize.py documents.
    # Identical IEEE values: the folds, the CASE, and the summation order
    # are unchanged; only the evaluation count per row drops.
    w8c = F.col("w8")
    m_col = F.aggregate(w8c, F.lit(0.0), lambda a, x: a + x) / w
    m2_col = F.aggregate(w8c, F.lit(0.0), lambda a, x: a + x * x) / w
    pre = wins.select("user_id", "start_idx", "w8",
                      m_col.alias("_m"), m2_col.alias("_m2"))
    var = F.col("_m2") - F.col("_m") * F.col("_m")
    pre = pre.select("user_id", "start_idx", "w8", "_m",
                     F.when(var > 0, F.sqrt(var)).otherwise(F.lit(1.0)).alias("_sd"))

    def dist_expr():
        m, sd = F.col("_m"), F.col("_sd")
        return F.round(
            F.aggregate(
                F.zip_with(w8c, qz, lambda x, q: ((x - m) / sd - q) * ((x - m) / sd - q)),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).cast("double")

    scored = pre.select("user_id", "start_idx", dist_expr().alias("dist"))
    top = scored.orderBy(
        F.col("dist").asc(), F.col("user_id").asc(), F.col("start_idx").asc()
    ).limit(10)
    wdw = Window.orderBy(
        F.col("dist").asc(), F.col("user_id").asc(), F.col("start_idx").asc()
    )
    return top.withColumn("rank", F.row_number().over(wdw).cast("int"))


# --- Streaming set-similarity join (cross-batch LSH state) -------------------


def _docs_stream_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """documents split into 3 micro-batch slots (doc_id % 3), each slot
    written as ``files_per_slot`` parquet files so the source stage of every
    micro-batch has file-level parallelism (a single file per trigger
    serialized the whole signature UDF chain onto one task — guide §2.6;
    a real stream delivers many files per trigger, the fixture should too).
    Returns ``(src, files_per_slot)``; readers must stream
    ``files_per_slot`` files per trigger so one trigger == one slot.
    Files cached per (process, sf_dir, files_per_slot). Each row carries
    an event time ``et = (doc_id % 3) * 10`` — constant within a batch,
    advancing 10 per batch — so the TTL-bounded variant has a
    SQL-expressible freshness window (|slot diff| <= 1 at ttl=10). Writes
    sleep between slots so file mtimes order the replay deterministically:
    every slot file predates every later-slot file, so the K oldest unseen
    files are exactly one slot (the bounded mode's output depends on
    arrival order by design: an arrival looks BACK ttl units, it cannot see
    forward)."""
    import time as _time

    files_per_slot = max(
        1, min(16, spark.sparkContext.defaultParallelism // 4)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", ((F.col("doc_id") % 3) * 10).cast("long").alias("et")
    )

    def write(out: str) -> None:
        for slot in range(3):
            if slot:
                _time.sleep(1.05)  # distinct mtimes => deterministic batch order
            d = docs.filter(F.col("doc_id") % 3 == slot)
            (d.repartition(files_per_slot) if files_per_slot > 1 else d.coalesce(1)
             ).write.mode("append").parquet(out)

    # the file count is part of the key: a dir written for another
    # parallelism would not replay one slot per trigger
    out = _input_dir(f"docs-stream-{files_per_slot}-", sf_dir, write)
    return out, files_per_slot


@register("streaming_minhash_lsh", _minhash_lsh_oracle())
def q_streaming_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming set-similarity join drained over a 3-micro-batch
    document replay: every near-dup pair surfaces exactly once regardless
    of which batches its members arrived in, and the result hash-matches
    the BATCH MinHash-LSH oracle — cross-batch bucket state is exactly the
    batch bucket join, unrolled over time."""
    from vstream_spark.streaming.pipeline import (
        derived_state_shards,
        streaming_set_similarity,
    )

    src, files_per_slot = _docs_stream_fixture(spark, sf_dir)
    stream = _file_stream(spark, "doc_id bigint, text string", src, files_per_slot)
    # data-derived shard count (r15): every (band, shard) group pays a fixed
    # pandas-state invocation cost per trigger, so groups track input bytes,
    # not cores — 512 -> 64 groups at sf0.1, measured 6.05 -> 4.02 s for the
    # identical pair set (shard-count-independence is oracle-gated)
    pairs = streaming_set_similarity(
        stream, threshold=0.5, state_shards=derived_state_shards(spark, src)
    )
    return _drain(pairs, "_streaming_mhlsh", src)


@register(
    "streaming_minhash_lsh_bounded",
    _minhash_lsh_oracle(extra_pred="abs((doc_a % 3) - (doc_b % 3)) <= 1"),
)
def q_streaming_minhash_lsh_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-SHAPED mode of the streaming set-similarity join
    (r5/r6 ask): same 3-micro-batch replay, but with ``ttl`` set — the
    reference's freshness contract (`vector_options.h:79-95`). Event time
    advances 10 per batch (constant within a batch) and ttl=10, so each
    arrival pairs only with bucket members of its own or the previous
    batch, and members older than the window are PHYSICALLY evicted from
    the keyed state after each batch — per-bucket state holds one TTL
    window of signatures, never the full history. Oracle: the batch
    MinHash-LSH pair set filtered to the TTL window (|batch slot diff|
    <= 1 — exact because event times are batch-constant and the replay
    order is pinned by file mtimes)."""
    from vstream_spark.streaming.pipeline import (
        derived_state_shards,
        streaming_set_similarity,
    )

    src, files_per_slot = _docs_stream_fixture(spark, sf_dir)
    stream = _file_stream(
        spark, "doc_id bigint, text string, et bigint", src, files_per_slot
    )
    # data-derived shard count (r15) — see q_streaming_minhash_lsh; results
    # are shard-independent (eviction is lazy bookkeeping; the symmetric
    # |et diff| <= ttl check at pair time is the semantic filter)
    pairs = streaming_set_similarity(
        stream, threshold=0.5, ttl=10, event_time_col="et",
        state_shards=derived_state_shards(spark, src),
    )
    return _drain(pairs, "_streaming_mhlsh_bounded", src)


# --- Namespaced (multi-tenant) search ----------------------------------------

_KNN_NAMESPACED_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding, label FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.qid, v.vec_id AS neighbor_id,
         {D.distance_sql("q.embedding", "v.embedding", "l2")} AS distance
  FROM embeddings v JOIN q ON v.label = q.label),
{_ranked_sql(10)}"""


@register("knn_namespaced", _KNN_NAMESPACED_ORACLE)
def q_knn_namespaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tenant isolation: each query searches ONLY its own namespace
    (label) — the per-collection contract every hosted vector store offers.
    The namespace equality lands in the join condition, so Catalyst plans a
    hash join keyed on it (candidates co-locate per tenant) instead of a
    global NLJ; top-k stays per query."""
    from vstream_spark.operators.knn import topk

    emb = load_table(spark, sf_dir, "embeddings")
    vectors = _vectors(emb, F.col("label").alias("ns"))
    queries = _query_set(emb, F.col("label").alias("qns")).withColumnRenamed(
        "emb", "qemb"
    )
    # the BHJ probe side drives the per-pair distance work: widen the tiny
    # embeddings scan (1-2 splits at rehearsal scale) to the cluster
    from vstream_spark.operators.util import widen

    pairs = widen(vectors).join(F.broadcast(queries), F.col("ns") == F.col("qns"))
    scored = pairs.select(
        "qid",
        F.col("id").alias("neighbor_id"),
        D.distance_expr(F.col("qemb"), F.col("emb"), "l2").alias("distance"),
    )
    return topk(scored, 10, dedup=False).select(
        "qid", "neighbor_id", "distance", "rank"
    )


# --- Sparse dot-product retrieval (inverted-index join) ----------------------
# The OTHER half of hybrid search engines: sparse term-weight vectors scored
# by an inverted-index join — score(q, d) = sum over shared terms of
# w_q * w_d. No dense fold exists anywhere; the shuffle keys on TERM (the
# posting-list exchange), so work scales with postings, not |Q|x|D|.
# Weights are integer term frequencies over a top-V vocabulary -> scores
# are exact integers, no float tolerance anywhere.

_SPARSE_DOT_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
vocab AS (
  SELECT tok FROM (
    SELECT tok, sum(tf) AS c FROM tf GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT 200)),
sp AS (SELECT tf.doc_id, tf.tok, tf.tf FROM tf JOIN vocab USING (tok)),
q AS (SELECT doc_id AS qid, tok, tf AS qtf FROM sp WHERE doc_id % 50 = 0),
scored AS (
  SELECT q.qid, sp.doc_id, CAST(sum(q.qtf * sp.tf) AS BIGINT) AS score
  FROM q JOIN sp ON q.tok = sp.tok
  GROUP BY q.qid, sp.doc_id),
ranked AS (
  SELECT qid, doc_id, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT qid, doc_id, score, rank FROM ranked WHERE rank <= 5
"""


@register("knn_sparse_dot", _SPARSE_DOT_ORACLE)
def q_knn_sparse_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse retrieval: top-5 documents per query by the inverted-index
    dot product over a top-200 vocabulary. The only big exchange keys on
    the term (posting lists); scoring is a partial-aggregated integer sum —
    exact, and the execution shape dense search can never produce."""
    toks = _doc_tokens(load_table(spark, sf_dir, "documents"))
    # tf is computed for the vocab collect() below AND re-derived by the
    # main scoring job: pin it so the tokenize+explode+aggregate pass runs
    # once — the collect() was already paying for it in full
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).localCheckpoint(
        eager=True
    )
    vocab = (
        tf.groupBy("tok")
        .agg(F.sum("tf").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(200)
        .select("tok")
    )
    vocab_list = [r["tok"] for r in vocab.collect()]
    sp = tf.join(F.broadcast(vocab), "tok")
    q = sp.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid"), "tok", F.col("tf").alias("qtf")
    )
    # NOT the posting-list pair join: that shape materializes
    # sum_t qdf(t) * df(t) (qid, doc, term) rows — ~df^2 growth; the sf1
    # rehearsal measured it at 23x on 10x data even with the query side
    # broadcast (its <=|vocab|=200 join keys also skew-cap the reducers).
    # sparse_topk scores each doc-partition against the whole bounded query
    # batch in one exact BLAS matmul and shuffles only per-partition top-k
    # rows (the M1 partial-merge argument makes that lossless).
    from vstream_spark.operators.retrieval import sparse_topk

    return sparse_topk(sp, q, vocab_list, k=5).select(
        "qid", "doc_id", "score", "rank"
    )


# --- Graph analytics: PageRank over the near-dup graph -----------------------
# Connected components already cluster the dedup graph; PageRank ranks
# WITHIN it (which duplicate is the hub). Three unrolled iterations keep
# the iterative algorithm SQL-expressible: each iteration is one
# edges-join-ranks shuffle + a per-node aggregate, with ranks rounded to
# 9dp on both engines so the next iteration's inputs stay bitwise equal.


def _pagerank_oracle(iters: int = 3, damp: float = 0.85) -> str:
    cand = _minhash_lsh_oracle()
    base = f"""
WITH cand AS ({cand}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM cand),
nodes AS (SELECT DISTINCT src AS id FROM edges),
n AS (SELECT count(*) AS n_nodes FROM nodes),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT id, CAST(1.0 / (SELECT n_nodes FROM n) AS DOUBLE) AS r FROM nodes)"""
    prev = "r0"
    for i in range(1, iters + 1):
        base += f""",
r{i} AS (
  SELECT e.dst AS id,
         CAST(round({1.0 - damp!r} / (SELECT n_nodes FROM n)
               + {damp!r} * sum({prev}.r / deg.d), 9) AS DOUBLE) AS r
  FROM edges e
  JOIN {prev} ON {prev}.id = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst)"""
        prev = f"r{i}"
    return base + f"""
SELECT id AS doc_id, r AS pagerank FROM {prev}
"""


@register("graph_pagerank", _pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 PageRank iterations over the symmetric MinHash near-dup graph.
    Per iteration: one join of the edge list with current ranks (both keyed
    on the node id — the partitioning reuses) and a partial-aggregated sum;
    state is the O(nodes) rank table."""
    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs, threshold=0.5).select("doc_a", "doc_b")
    edges = cand.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(cand.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # lazy: nodes.count() below materializes it in the same job; every
    # later iteration then reads the checkpoint
    edges = edges.localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("id")).distinct()
    n_nodes = nodes.count()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    ranks = nodes.withColumn("r", F.lit(1.0 / n_nodes))
    damp = 0.85
    for _ in range(3):
        # attach r/d at NODE cardinality first, then do the single
        # edge-cardinality join: one edge-scale shuffle per iteration
        # instead of two (guide §2.4 — same per-edge c, same sum)
        rd = (
            ranks.join(deg.withColumnRenamed("src", "id"), "id")
            .select(
                F.col("id").alias("src"), (F.col("r") / F.col("d")).alias("c")
            )
        )
        contrib = edges.join(rd, "src").select("dst", "c")
        ranks = contrib.groupBy(F.col("dst").alias("id")).agg(
            F.round(
                F.lit((1.0 - damp) / n_nodes) + F.lit(damp) * F.sum("c"), 9
            )
            .cast("double")
            .alias("r")
        )
    return ranks.select(F.col("id").alias("doc_id"), F.col("r").alias("pagerank"))


# --- Contrastive negative mining ---------------------------------------------
# Training-pair construction: for each anchor document, pick k deterministic
# "random" negatives. The hash PREFILTER is the scale posture: only ~10% of
# (anchor, doc) pairs survive the pushed-down bucket predicate before any
# ranking, and at 100 TB the same predicate bounds the candidate join. Same
# md5-bucket family as the sampling operators -> reproducible on any engine.


def _negatives_oracle(k: int = 5, keep: int = 100_000) -> str:
    from vstream_spark.operators.sample import hash_bucket_sql

    h = hash_bucket_sql(
        "CAST(a.qid AS VARCHAR) || ',' || CAST(d.doc_id AS VARCHAR)", 42
    )
    return f"""
WITH anchors AS (SELECT doc_id AS qid FROM documents WHERE doc_id % 50 = 0),
cand AS (
  SELECT a.qid, d.doc_id, {h} AS h
  FROM anchors a CROSS JOIN documents d WHERE d.doc_id <> a.qid),
pre AS (SELECT * FROM cand WHERE h < {keep}),
ranked AS (
  SELECT qid, doc_id,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY h ASC, doc_id ASC) AS INTEGER) AS rank
  FROM pre)
SELECT qid, doc_id AS neg_id, rank FROM ranked WHERE rank <= {k}
"""


@register("sample_negatives", _negatives_oracle())
def q_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 deterministic negatives per anchor: the md5 bucket both FILTERS the
    candidate pairs (90% never rank) and orders the survivors, so the same
    negatives are drawn on any engine or partitioning."""
    from vstream_spark.operators.sample import _hash_bucket

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    anchors = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("qid")
    )
    # the probe side drives BNLJ parallelism AND the per-pair md5 work: a
    # 1-2 split scan of the tiny doc_id projection serializes the
    # O(|anchors| x |docs|) hash loop onto one task (58s at sf1; the same
    # trap SCALE.md documents for every brute-force consumer). No-op when
    # the corpus scan is already wide.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    cand = docs.crossJoin(F.broadcast(anchors)).filter(
        F.col("doc_id") != F.col("qid")
    )
    h = _hash_bucket(
        F.concat_ws(",", F.col("qid").cast("string"), F.col("doc_id").cast("string")),
        42,
    )
    pre = cand.withColumn("h", h).filter(F.col("h") < 100_000)
    w = Window.partitionBy("qid").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        pre.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("qid", F.col("doc_id").alias("neg_id"), "rank")
    )


# --- q16 shape: distinct-supplier counts with a NOT IN exclusion -------------

_REL_SUPPLIER_VARIETY = """
SELECT p.p_brand, p.p_type,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size IN (1, 5, 9, 13)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
"""

register("rel_supplier_variety", _REL_SUPPLIER_VARIETY)(
    _make_relational(_REL_SUPPLIER_VARIETY)
)


# --- Adaptive filtered search routing gate (pre-filter vs post-filter) -------
# knn_filtered pins the static pre-filter shape; this gate pins the ROUTER:
# on the same embeddings table, a selective predicate (label = 0, ~10%) must
# route to pre_filter and a weak one (label % 2 = 0, ~50%) to post_filter,
# AND the routing must not change the answer — the pre_filter branch is
# exact-equal to the brute filtered scan, the post_filter branch (oversampled
# HNSW + re-check) clears a 0.9 recall floor against it. Both branches are
# exercised for BOTH predicates via force_strategy, so a regression in either
# plan trips the gate regardless of which side the router picks.

_FILTERED_ROUTE_CASES: list[tuple[str, str]] = [
    ("selective", "pre_filter"),  # label = 0 -> ~0.10 <= threshold 0.25
    ("weak", "post_filter"),  # label % 2 = 0 -> ~0.50 > threshold
]


def _filtered_route_rows(queries, base, tag, run) -> dict:
    """The loop both routing gates share. ``run(pred, force_strategy)``
    returns ``(result, strategy, selectivity)``; ``base`` is the frame
    whose ``filter(pred)`` exact top-k is the reference answer."""
    preds = {
        "selective": F.col("label") == 0,
        "weak": F.col("label") % 2 == 0,
    }
    oks = {}
    for case, expect in _FILTERED_ROUTE_CASES:
        pred = preds[case]
        routed, strategy, sel = run(pred, None)
        # both branches must answer the same predicate: when routing
        # lands on pre_filter (identical to the exact scan by
        # construction — its exactness is pinned by tests/test_filtered)
        # force the OTHER branch so the oversampled post-filter plan is
        # exercised on this predicate too; when routing lands on
        # post_filter the routed result IS that branch already.
        post = run(pred, "post_filter")[0] if strategy == "pre_filter" else routed
        rec = _exact_recalls(
            base.filter(pred),
            queries,
            f"{tag} {case}: sel={sel:.3f} strategy={strategy}",
            routed_recall=routed,
            post_recall=post,
        )
        # routed answer must be the exact top-k when the exact branch
        # was chosen; the approximate branch clears the 0.9 floor
        routed_ok = rec["routed_recall"] >= (1.0 if strategy == "pre_filter" else 0.9)
        ok = strategy == expect and routed_ok and rec["post_recall"] >= 0.9
        oks[(case, strategy)] = ok
    return oks


@register_gate(
    "knn_filtered_route_gate", "pred_case, strategy, route_ok", _FILTERED_ROUTE_CASES
)
def q_knn_filtered_route_gate(spark: SparkSession, sf_dir: str) -> dict:
    """Selectivity-adaptive filtered kNN: router picks the expected plan and
    both plans agree on the answer (exact equality for pre_filter; recall
    >= 0.9 for the oversampled post_filter) — see operators/filtered.py."""
    from vstream_spark.operators.filtered import knn_filtered_adaptive

    emb = load_table(spark, sf_dir, "embeddings")
    vectors = _vectors(emb, "label")
    queries = _query_set(emb)
    iconf = VectorIndexConf(
        index_kind="hnsw", m=16, ef_construction=128, ef_search=128
    )

    def run(pred, force):
        return knn_filtered_adaptive(
            vectors, queries, pred, k=10, metric="l2",
            index_conf=iconf, force_strategy=force,
        )

    return _filtered_route_rows(queries, vectors, "filtered_route", run)


# --- Filtered search over the PERSISTED store (r11 VERDICT #3) ---------------
# knn_filtered_route_gate pins the adaptive router over rebuild-per-call
# operators; this gate pins the SAME routing contract composed with the
# SegmentStore path — persisted sidecar indexes, executor cache, chunked
# segment loop, LWW/tombstone-visible snapshot (the reference composes its
# filter with freshness INSIDE index traversal over persisted tables:
# FilterSeqTs, hnswlib.h:135-146).


def _filtered_store(spark: SparkSession, sf_dir: str):
    """Two-segment store that PERSISTS the label attribute alongside id/emb
    — the predicate column lives in the segment parquet, so the pre-filter
    branch pushes it into the pruned scan. Same recipe as `_hnsw_store`
    (shared `_two_segment_store`)."""
    return _two_segment_store(
        spark, sf_dir, "knn-filtered-store-", extra_cols=("label",)
    )


@register_gate(
    "knn_filtered_store_gate", "pred_case, strategy, route_ok", _FILTERED_ROUTE_CASES
)
def q_knn_filtered_store_gate(spark: SparkSession, sf_dir: str) -> dict:
    """SegmentSearcher.search_filtered: the router picks the expected plan
    over the persisted store, the pre_filter branch equals the exact scan of
    the visible snapshot, and the post_filter branch (oversampled sidecar-
    index search + re-check + escalation) clears a 0.9 recall floor — both
    branches forced for both predicates (storage/search.py)."""
    from vstream_spark.storage.search import SegmentSearcher

    store = _filtered_store(spark, sf_dir)
    _, queries = _emb_pair(spark, sf_dir)

    def run(pred, force):
        pdf, strategy, sel = SegmentSearcher(store, _GATE_HNSW).search_filtered(
            queries, pred, k=10, force_strategy=force
        )
        res = spark.createDataFrame(pdf[["qid", "neighbor_id", "distance", "rank"]])
        return res, strategy, sel

    visible = SegmentSearcher(store, _GATE_HNSW).visible()
    return _filtered_route_rows(queries, visible, "filtered_store", run)


# --- In-index attribute filtering gate (r12 VERDICT missing #1) --------------
# knn_filtered_store_gate pins the pre/post routing over the persisted
# store; this gate pins the third branch — the full FilterSeqTs analog:
# each segment task builds an allowlist from ITS OWN persisted attribute
# columns (executor-side, no driver id set) and threads it INTO graph
# traversal (hnswlib.h:135-146, hnsw_table_reader.cc:1653-1738), so a
# filtered search does ~k eligible-candidate work instead of oversampling.

_ININDEX_CASES: list[tuple[str, str]] = [
    # weak predicate + matching SQL hint -> routed to in_index, exact-recall
    ("weak_hint", "in_index"),
    # always-true hint forced onto in_index: permissive allowlist is the
    # contract's safe direction (superset of matches) — still correct
    ("permissive_hint", "in_index"),
    # BETWEEN hint (r13 VERDICT #6): the range form rides the extended
    # zone-map grammar end-to-end through routing + allowlist + re-check
    ("between_hint", "in_index"),
    # a hint the predicate does NOT imply would silently exclude true
    # matches from the allowlist without tripping the deficiency check —
    # the probe's mechanical implication guard must reject it
    ("guard_rejects", "rejected"),
]


@register_gate(
    "knn_inindex_filter_gate", "pred_case, strategy, route_ok", _ININDEX_CASES
)
def q_knn_inindex_filter_gate(spark: SparkSession, sf_dir: str) -> dict:
    """SegmentSearcher.search_filtered's in_index branch: a weak predicate
    with a SQL hint routes to in-traversal filtering at depth k (no
    oversampling), clears the same recall floor as the sibling branches, a
    permissive hint stays correct, and a non-implied hint is rejected by
    the probe's implication guard (storage/search.py)."""
    from vstream_spark.storage.search import SegmentSearcher

    store = _filtered_store(spark, sf_dir)
    _, queries = _emb_pair(spark, sf_dir)

    oks = {}
    for case, _expect in _ININDEX_CASES:
        pred = F.col("label") % 2 == 0  # ~0.5 selectivity: above the pre bound
        searcher = SegmentSearcher(store, _GATE_HNSW)
        if case == "guard_rejects":
            try:
                searcher.search_filtered(
                    queries, pred, k=10,
                    force_strategy="in_index", predicate_expr="label = 3",
                )
                oks[(case, "not_rejected")] = False
            except ValueError:
                oks[(case, "rejected")] = True
            continue
        if case == "between_hint":
            # ~0.6 selectivity range predicate over the fixture's label
            # domain [0, 9], hint in the BETWEEN form the r14 grammar
            # extension admits (desugars to two range terms for zone
            # pruning; duckdb and Spark agree on its semantics)
            pred = (F.col("label") >= 2) & (F.col("label") <= 7)
            expr, force = "label BETWEEN 2 AND 7", None
        else:
            expr = "label % 2 = 0" if case == "weak_hint" else "label >= 0"
            force = None if case == "weak_hint" else "in_index"
        got_pdf, strategy, sel = searcher.search_filtered(
            queries, pred, k=10,
            predicate_expr=expr, force_strategy=force,
        )
        got = spark.createDataFrame(
            got_pdf[["qid", "neighbor_id", "distance", "rank"]]
        )
        recall_ok = _recall_ok(
            searcher.visible().filter(pred),
            queries,
            f"inindex_filter {case}: sel={sel:.3f} strategy={strategy}",
            0.9,
            got,
        )
        oks[(case, strategy)] = recall_ok and strategy == "in_index"
    return oks


# --- Streaming filtered search + warm-state gate (r13 VERDICT #5 + #7) -------
# StreamingVectorQuery is the streaming consumer surface of the segment loop:
# per micro-batch, a searcher restores persisted C7/C8 state, answers, and
# saves — and an attribute predicate travels with the stream the way the
# reference's per-query options travel on the query record
# (vector_options.h:79-95). Two pinned behaviors: (a) every micro-batch of a
# filtered stream routes through search_filtered's in_index plan and the
# drained union clears the recall floor; (b) an UNFILTERED lane's batch 1
# seeds + saves the termination EMA and batch 2 restores WARM and
# early-terminates on its first search.


def _stream_filtered_source(spark: SparkSession, sf_dir: str) -> str:
    """Two-file query stream (each file = one micro-batch): the filtered-
    store query set split in half. Files cached per (process, sf_dir); the
    stream itself runs fresh per invocation."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _query_set(emb.withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    ))

    def write(src: str) -> None:
        first = F.col("qid") % 50 == 0
        queries.filter(first).coalesce(1).write.parquet(f"{src}/b000")
        queries.filter(~first).coalesce(1).write.parquet(f"{src}/b001")

    return _input_dir("stream-filtered-q-", sf_dir, write)


@register_gate(
    "knn_streaming_filtered_gate", "pred_case, case_ok",
    ["filtered_in_index", "warm_restore_terminates"],
)
def q_knn_streaming_filtered_gate(spark: SparkSession, sf_dir: str) -> dict:
    """StreamingVectorQuery over the persisted filtered store: (a) a label
    predicate + SQL hint rides every micro-batch through the in_index plan
    and the drained results clear the 0.9 recall floor vs the exact
    filtered scan; (b) warm C7/C8 restore is load-bearing — batch 2's
    searcher early-terminates where batch 1 ran full depth
    (streaming/pipeline.py, storage/search.py)."""
    from vstream_spark.storage.search import SegmentSearcher
    from vstream_spark.streaming.pipeline import StreamingVectorQuery

    store = _filtered_store(spark, sf_dir)
    n_seg = len(store.segments())
    src = _stream_filtered_source(spark, sf_dir)
    _, queries = _emb_pair(spark, sf_dir)
    state_path = os.path.join(store.base_dir, "_searcher_state.json")
    oks = {}
    work = tempfile.mkdtemp(prefix="stream-filtered-")
    try:
        def lane(name: str, conf: VectorIndexConf, **kw):
            """Drain the query stream through one StreamingVectorQuery."""
            svq = StreamingVectorQuery(
                store, f"{work}/{name}res", index_conf=conf, k=10, **kw
            )
            stream = _file_stream(spark, "qid long, emb array<float>", f"{src}/*")
            svq.start(stream, f"{work}/{name}ckpt").awaitTermination()
            return svq

        # (a) filtered lane: three-plan routing per micro-batch (in_index
        # via the hint), cold state (no interference with case b)
        pred = F.col("label") % 2 == 0
        svq = lane(
            "f", _GATE_HNSW, predicate=pred, predicate_expr="label % 2 = 0",
            restore_state=False,
        )
        got = spark.read.parquet(f"{work}/fres").select(
            "qid", "neighbor_id", "distance", "rank"
        )
        strategies = [s["strategy"] for s in svq.batch_stats]
        recall_ok = _recall_ok(
            SegmentSearcher(store, _GATE_HNSW).visible().filter(pred),
            queries,
            f"streaming_filtered: batches={len(svq.batch_stats)} "
            f"strategies={strategies}",
            0.9,
            got,
        )
        oks["filtered_in_index"] = (
            recall_ok
            and len(svq.batch_stats) == 2
            and all(s == "in_index" for s in strategies)
        )

        # (b) warm-restore lane: aggressive EMA termination, spj=1 so the
        # depth difference is observable per segment. Start from a clean
        # state file (the fixture store is session-shared).
        if os.path.exists(state_path):
            os.remove(state_path)
        conf = dataclasses.replace(
            _GATE_HNSW, termination_lower_bound=0.0, termination_factor=1e9,
            segments_per_job=1,
        )
        svq2 = lane("w", conf, restore_state=True)
        stats = sorted(svq2.batch_stats, key=lambda s: s["batch_id"])
        print(f"# streaming_warm_restore: stats={stats}", file=sys.stderr)
        oks["warm_restore_terminates"] = (
            len(stats) == 2
            and stats[0]["restored"] is False
            and stats[0]["searched_segments"] == n_seg
            and stats[1]["restored"] is True
            and stats[1]["searched_segments"] < n_seg
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(state_path):
            os.remove(state_path)  # leave the shared fixture pristine
    return oks


# --- BPE merge-parity gate (r11 VERDICT #5) ----------------------------------
# text_bpe_merges is iterative (rows-only by design); this gate turns its
# correctness into a VALUES oracle: the distributed merge sequence must equal
# a straightforward single-node Sennrich BPE replayed over the SAME word
# counts. The local reference runs on O(|word vocab|) driver rows — oracle
# machinery only, the measured operator stays fully distributed.


def _ref_bpe_local(words: dict[str, int], num_merges: int):
    """Single-node reference BPE (Sennrich et al. 2016): greedy
    non-overlapping merge, best pair by (count desc, pair asc) — the same
    deterministic tiebreak train_bpe declares."""
    syms = {w: list(w) + ["</w>"] for w in words}
    merges = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, n in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + n
        if not counts:
            break
        top = max(counts.values())
        a, b = sorted(p for p, c in counts.items() if c == top)[0]
        merges.append((a, b, top))
        for w in words:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


@register_gate("text_bpe_gate", "merge_rank, merge_ok", list(range(1, 9)))
def q_text_bpe_gate(spark: SparkSession, sf_dir: str) -> dict:
    """Each of the 8 distributed BPE merges (pair, count, order) equals the
    single-node reference replay — operators/bpe.py's Catalyst fold vs a
    pure-Python Sennrich loop over identical word counts."""
    from vstream_spark.operators.bpe import train_bpe, word_counts

    docs = load_table(spark, sf_dir, "documents")
    got = train_bpe(docs, num_merges=8)
    words = {r["word"]: int(r["n"]) for r in word_counts(docs).collect()}
    want = _ref_bpe_local(words, 8)
    return {
        i + 1: i < len(got) and i < len(want) and got[i] == want[i]
        for i in range(8)
    }
