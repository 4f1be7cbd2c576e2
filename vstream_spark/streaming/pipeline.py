"""Structured Streaming pipelines (SURVEY §7 Stage 4).

The reference's dataflow is two unbounded streams (vector inserts/deletes and
queries) flowing through partition -> per-partition index -> merge
(``VStreamSearchJob.java:21-49``). The Spark-native re-expression:

* sources: ``readStream`` over parquet drops (file-per-trigger replay of the
  driver's events/vector fixtures — the analog of the throttled HDFS sources,
  §2.2 R1-R5; rate control = ``maxFilesPerTrigger`` / rate source, not
  per-record sleeps)
* ingest: ``foreachBatch`` appending micro-batches to a SegmentStore (the
  memtable-flush path W1/C2) — each micro-batch is one segment
* search: per micro-batch of queries, run the batch kNN against the
  TTL-pruned SegmentStore (snapshot isolation per micro-batch = the
  reference's per-query sequence-number snapshot, O3)
* windowed rollups: watermark + tumbling window aggregation — the general
  streaming-agg surface the reference lacks but Spark provides (§2.7)
* monotonic event-time guard (``search:90-93``) becomes the watermark: late
  queries beyond the watermark are dropped by the engine
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vstream_spark.storage.segments import SegmentStore


def read_event_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay the events table as a file stream (R1 staged-rate analog:
    throughput is governed per-trigger, not per-record)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # driver parquet stores ts as TIMESTAMP(NANOS) -> int64 under nanosAsLong
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS BIGINT)"))
        )
    elif ts_type == "timestamp_ntz":
        # withWatermark requires TIMESTAMP (with tz). Session tz is pinned to
        # UTC, so NTZ -> TZ is a value-preserving reinterpretation; windowed
        # results cast back to NTZ downstream to match the batch oracle.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_event_rollup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h window counts with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            # back to NTZ: the windowing ran on UTC-pinned TIMESTAMP; the
            # batch/duckdb oracle sees naive timestamps, so emit NTZ.
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """SLIDING-window rollup (each event lands in window/slide overlapping
    windows — here 4). Spark materializes the overlap by replicating each
    row per window map-side; state per key is still one aggregate per open
    window, evicted by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup_keys(events: DataFrame, keys: list[str]) -> DataFrame:
    """Stateful exact dedup on a streaming source: first occurrence of each
    key combination is kept in the state store, later duplicates are dropped
    as they arrive (the streaming analog of the batch ``dedup_exact``
    fingerprint path — at corpus scale the keys would be document
    fingerprints). Projected to the key columns, the emitted set is
    independent of arrival order, so a batch DISTINCT oracle hash-matches.
    """
    return events.select(*keys).dropDuplicates(keys)


def streaming_dedup_keys_bounded(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Bounded-state streaming dedup (``dropDuplicatesWithinWatermark``): a
    duplicate is dropped only if it arrives within the watermark delay of
    the first occurrence, and state for a key is EVICTED once the watermark
    passes it. This is the production variant of ``streaming_dedup_keys``
    (whose state grows with the key universe forever): state is O(keys per
    watermark window). The trade: re-occurrences separated by more than the
    delay are emitted again — exactly the contract log/event pipelines want
    (dedup retries, keep genuine repeats)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join: each left event pairs with the same user's
    right events in ``[left.ts - lookback, left.ts]`` — the attribution shape
    (purchase joined to the clicks that preceded it).

    Both sides carry watermarks and the join condition bounds event time on
    both sides, so Spark can EVICT join state once the watermark passes —
    state is O(lookback x rate), not O(stream length); this is the property
    that makes a stream-stream join runnable forever at production rates.
    Output is append-mode and, for a fully-drained availableNow run, equals
    the batch join — the oracle.
    """
    lhs = left.select(
        F.col("event_id").alias("l_id"),
        F.col("user_id"),
        F.col("ts").alias("l_ts"),
        F.col("value").alias("l_value"),
    ).withWatermark("l_ts", watermark)
    rhs = right.select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") <= F.col("l_ts"))
    )
    return lhs.join(rhs, cond, "inner").select(
        "l_id",
        "user_id",
        F.col("l_ts").cast("timestamp_ntz").alias("l_ts"),
        "r_id",
        F.col("r_ts").cast("timestamp_ntz").alias("r_ts"),
        "r_value",
    )


def streaming_enrich(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    against a STATIC dimension (here a per-key profile) — the canonical
    "decorate events with reference data" shape. The static side is
    broadcast, so the stream never shuffles and no join state accumulates
    (unlike stream-stream joins, the static side is re-resolved per batch,
    which is also what makes it safe to swap the dim between batches at
    scale). Append mode; a drained availableNow run equals the batch join."""
    return events.join(F.broadcast(dim), key, "left").select(
        "event_id",
        key,
        "event_type",
        "user_n_events",
        "user_avg_value",
    )


def stream_state_partitions(
    spark,
    *paths: str,
    target_bytes: int = 16 * 1024 * 1024,
    floor: int = 4,
) -> int:
    """Scale-adaptive shuffle/state partition count for a stateful
    streaming query.

    Every stateful operator instantiates ONE state store per shuffle
    partition per micro-batch, and each store's commit writes + fsyncs a
    delta file regardless of how little state it holds. Measured on this
    harness (per-batch ``stateOperators.commitTimeMs``): a stream-stream
    join at the session's static 32 shuffle partitions runs 128 stores and
    spends 4-5 s of its ~5.7 s wall in store commits, while its actual data
    fits in ONE partition — the state machinery, not the data, is the cost.
    AQE coalescing cannot fix this (AQE is disabled for stateful
    workloads), so the partition count must be derived, not defaulted:
    ``ceil(input_bytes / target_bytes)``, floored at ``floor`` for residual
    parallelism and capped at 2x ``defaultParallelism`` (the production
    rule of thumb for shuffle partitions). The same derivation that picks a
    handful of stores at rehearsal scale picks thousands on a 100 TB
    stream on a large cluster.

    Output-identity: every stateful operator in this module (dedupe,
    windowed aggregation, symmetricHashJoin, applyInPandasWithState keyed
    by (band, shard) / partition_id) produces a partition-count-independent
    result set, so this knob never changes what a query computes — the
    oracle gate re-proves that per round.

    .. warning:: Like ``state_shards``, the count is pinned into a
       checkpoint by the first micro-batch; a query resuming from a
       checkpoint must keep it constant (Spark enforces this one via the
       offset-log metadata, unlike the silent state_shards remap).
    """
    cap = 2 * max(1, spark.sparkContext.defaultParallelism)
    return max(floor, min(cap, -(-_input_bytes(*paths) // max(1, target_bytes))))


def _input_bytes(*paths: str) -> int:
    """Total data bytes under the given files/dirs (metadata files skipped)."""
    import os

    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith((".", "_"))
                )
        elif os.path.isfile(p):
            total += os.path.getsize(p)
    return total


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
):
    """Drain a streaming DF with availableNow into an in-memory table; returns
    the query handle after completion (test/debug sink).

    ``state_partitions`` (from :func:`stream_state_partitions`) pins
    ``spark.sql.shuffle.partitions`` for the lifetime of the drain — the
    conf is read at micro-batch planning, so it must be active while the
    query RUNS, not while the DataFrame is built; restored afterwards so
    batch queries in the same session are untouched."""
    spark = stream_df.sparkSession
    prev = None
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q


def _start_sink(stream: DataFrame, sink, checkpoint_dir: str):
    """The ``start`` of the sink classes below: ``stream`` into ``sink``
    under an availableNow trigger, then stop."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class StreamingVectorIngest:
    """foreachBatch ingest: every micro-batch of vector inserts/deletes is
    flushed as one immutable segment (W1 insert + C2 delayed flush; the
    micro-batch IS the memtable).

    With ``index_conf`` set, each flushed segment gets its index artifact
    built immediately (C3: the reference builds the SST's HNSW at flush
    time, ``hnsw_table_builder.cc``) — searchers then load instead of
    rebuild. The artifact kind follows ``index_conf.index_kind``
    (flat/hnsw/ivf/pq/auto); a segment that resolves to flat — every
    micro-batch-sized segment under the default 'auto' — needs none, so
    its flush launches no build job."""

    def __init__(self, store: SegmentStore, index_conf=None):
        self.store = store
        self.index_conf = index_conf

    def start(self, vectors_stream: DataFrame, checkpoint_dir: str):
        return _start_sink(vectors_stream, self._sink, checkpoint_dir)

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        # rotation-aware: a burst micro-batch above the store's
        # max_rows_per_segment rotates into multiple time-ranged segments
        # (the reference rotates HNSW memtables at 250k), and all their
        # artifacts build in ONE parallel job
        segs = self.store.append_batch(batch_df)
        if segs and self.index_conf is not None:
            self.store.build_segment_indexes(segs, self.index_conf)


class StreamingCurveIngest:
    """P5 dynamic-epoch ingest: each micro-batch first RE-LEARNS quantile
    boundaries for any epoch it opens (``EpochCurvePartitioner.update`` —
    the per-updateInterval ``summarizeHistory`` of
    ``LSHashSpaceFillingPartitioner.java:118-145``), then routes its rows by
    their own epoch's boundaries and appends them to the sink, partitioned
    by partition_id. Queries later fan out with
    ``partitioner.partition_queries`` (fresh-epoch pruning via max_ttl)."""

    def __init__(self, partitioner, out_dir: str):
        self.partitioner = partitioner
        self.out_dir = out_dir

    def start(self, vectors_stream: DataFrame, checkpoint_dir: str):
        return _start_sink(vectors_stream, self._sink, checkpoint_dir)

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        self.partitioner.update(batch_df)
        routed = self.partitioner.partition_data(batch_df)
        routed.write.mode("append").partitionBy("partition_id").parquet(self.out_dir)


class StreamingVectorQuery:
    """Micro-batch index-backed query answering over a persisted
    SegmentStore — the streaming consumer surface of the SegmentSearcher
    loop (C4/C6/C7/C8), with two r14 additions:

    - **Warm state (r13 VERDICT #5).** Each micro-batch's searcher runs
      ``load_state()`` before the batch and ``save_state()`` after it, so
      the C7 temperature ordering and the C8 termination EMA accumulate
      ACROSS micro-batches and restarts — the
      reference keeps the same stats in version metadata
      (``util/metrics.h:77-109``); a per-batch searcher otherwise starts
      cold every time and never early-terminates. ``restore_state=False``
      opts back into the cold-per-batch behavior.
    - **Per-stream attribute filtering (r13 VERDICT #7).** ``predicate``
      (+ optional ``predicate_expr`` SQL hint) routes every micro-batch
      through ``search_filtered``'s three physical plans (pre / in_index /
      post) — the reference's per-query options travel on the query record
      (``vector_options.h:79-95``); here they travel on the stream's
      writer. Filtered searches never write the EMA (the contamination
      guard inside ``search_filtered``), so restore still helps via C7
      ordering + the persisted threshold from any unfiltered lanes.

    Each micro-batch's (qid, emb) rows are collected to the driver once,
    through Arrow; an empty batch returns there. The search then takes
    one of ``SegmentSearcher``'s two placements (``storage/search.py``):
    in-process on the driver when every pruned segment is flat and the
    batch's work is under the measured bound, else one job per chunk. A
    filtered stream searches a DataFrame made from the collected frame, so
    the source is scanned once per batch either way.

    Results are batch-scoped: batch ``b`` writes
    ``out_dir/batch-<b>.parquet`` (qid, neighbor_id, distance, rank,
    batch_id) with pyarrow, to a dot-prefixed temp name and then a rename.
    A micro-batch Spark replays after a crash overwrites its own file
    instead of appending a duplicate, and a temp file a crash leaves is
    hidden from Spark and pyarrow readers by its prefix. ``out_dir`` is a
    local path. Per-batch observability lands in ``batch_stats``
    (batch_id, rows, segments searched, placement, strategy, restored) on
    the driver — O(batches) dicts, never data."""

    _SCHEMA = pa.schema(
        [
            ("qid", pa.int64()),
            ("neighbor_id", pa.int64()),
            ("distance", pa.float64()),
            ("rank", pa.int32()),
            ("batch_id", pa.int64()),
        ]
    )

    def __init__(
        self,
        store: SegmentStore,
        out_dir: str,
        index_conf=None,
        k: int = 10,
        predicate=None,
        predicate_expr: str | None = None,
        restore_state: bool = True,
    ):
        from vstream_spark.config import VectorIndexConf

        self.store = store
        self.out_dir = out_dir
        self.index_conf = index_conf or VectorIndexConf()
        self.k = k
        self.predicate = predicate
        self.predicate_expr = predicate_expr
        self.restore_state = restore_state
        self.batch_stats: list[dict] = []

    def start(self, queries_stream: DataFrame, checkpoint_dir: str):
        return _start_sink(queries_stream, self._sink, checkpoint_dir)

    def _sink(self, batch_df: DataFrame, batch_id: int) -> None:
        from vstream_spark.storage.search import SegmentSearcher, query_frame

        queries = batch_df.select("qid", "emb").toPandas()
        if queries.empty:
            return
        searcher = SegmentSearcher(self.store, self.index_conf)
        restored = searcher.load_state() if self.restore_state else False
        strategy = None
        if self.predicate is not None:
            pdf, strategy, _sel = searcher.search_filtered(
                query_frame(batch_df.sparkSession, queries),
                self.predicate,
                k=self.k,
                predicate_expr=self.predicate_expr,
            )
        else:
            pdf = searcher.search(queries, k=self.k)
        if self.restore_state:
            searcher.save_state()
        self.batch_stats.append(
            {
                "batch_id": int(batch_id),
                "rows": int(len(pdf)),
                "searched_segments": len(searcher.last_searched_ids),
                "placement": searcher.last_placement,
                "strategy": strategy,
                "restored": bool(restored),
            }
        )
        self._write(pdf, int(batch_id))

    def _write(self, pdf, batch_id: int) -> None:
        """``out_dir/batch-<batch_id>.parquet`` through a hidden temp file
        and an atomic rename: a replayed batch id replaces its file."""
        import os

        import pyarrow.parquet as pq

        table = pa.Table.from_pandas(
            pdf.assign(batch_id=batch_id), schema=self._SCHEMA, preserve_index=False
        )
        os.makedirs(self.out_dir, exist_ok=True)
        name = f"batch-{batch_id}.parquet"
        tmp = os.path.join(self.out_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.out_dir, name))


def derived_state_shards(
    spark, *paths: str, target_bytes: int = 1024 * 1024
) -> int:
    """The shard count ``streaming_set_similarity`` derives when
    ``state_shards=None`` — exposed so callers can RECORD the value a
    checkpointed query started with and pass it explicitly on resume
    (the count is part of the state key; see the warning in
    :func:`streaming_set_similarity`).

    With ``paths`` (the stream's source files — callers that know them
    should pass them): ``clamp(ceil(input_bytes / 1MB), 4, 4x
    defaultParallelism)``. Every (band, shard) group pays a fixed
    applyInPandasWithState invocation cost per micro-batch (state blob
    ser/de + pandas assembly, ~2-5 ms) REGARDLESS of arrivals, so group
    count must track data volume, not cores: an r15 sweep at sf0.1
    measured 16 bands x 32 shards = 512 groups at 6.05 s vs 64 groups at
    4.02 s for the identical 256-pair result, with per-group payloads
    still far under executor memory. Without ``paths`` the old
    cores-derived value (defaultParallelism) stands — the no-information
    default for ad-hoc streams.
    """
    par = max(1, spark.sparkContext.defaultParallelism)
    if not paths:
        return par
    return max(4, min(4 * par, -(-_input_bytes(*paths) // max(1, target_bytes))))


def streaming_set_similarity(
    docs_stream: DataFrame,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold: float = 0.5,
    ttl: int | None = None,
    event_time_col: str | None = None,
    late_slack: int = 0,
    state_shards: int | None = None,
) -> DataFrame:
    """Distributed STREAMING set-similarity join (the ICDE'20 problem shape):
    documents arrive as a stream; each new arrival pairs with every earlier
    document sharing an LSH band bucket, then the signature-overlap Jaccard
    estimate verifies. State holds the banded (id, signature) history —
    never pair space. A pair is emitted exactly once — when its later
    member arrives, from the SMALLEST band in which the pair collides
    ("min-band emission", r15: collision-in-band-b is a pure function of
    the two signatures already in the group's hands, so exactly-once is
    decided locally and the old downstream dropDuplicates stage — a whole
    second stateful operator with unbounded pair-key state — no longer
    exists) — no matter how the stream is batched, so a drained run equals
    the batch minhash_lsh_candidates bit-for-bit. Assumes distinct doc_ids
    (the LSH-dedup contract; self-pairs are id-filtered in-state).

    State is keyed by ``(band, hash(band_key) % state_shards)``, NOT by the
    raw bucket (r7): a corpus has millions of one-member buckets, and
    per-bucket keying paid the applyInPandasWithState per-key Python/Arrow
    overhead once per bucket per batch (~25k invocations/batch at sf0.1 —
    it made this the suite's slowest query). Sharded keying caps
    invocations at ``bands * state_shards`` per batch, while bucket
    locality is preserved INSIDE each shard with sorted keys + searchsorted
    ragged ranges — comparisons still happen only within a bucket, fully
    vectorized. ``state_shards`` is the state-parallelism knob; when left
    ``None`` it is derived from the session's ``defaultParallelism`` (r8
    VERDICT #8: the static default made the sf0.1 and cluster plans share
    one magic number) so each shard's signature slice stays executor-sized
    (state volume is corpus/bands/shards per key) and the stateful stage's
    task fan-out tracks the cluster's cores with no caller tuning.

    .. warning:: **``state_shards`` is part of the checkpointed state KEY**
       (state is keyed by ``(band, hash(band_key) % state_shards)``), so it
       must be IDENTICAL across every restart of a checkpointed query. A
       resume under a different shard count silently remaps band_key →
       shard: prior state is orphaned under the old shard values and pairs
       spanning the restart are dropped — no error is raised (r9 ADVICE).
       The ``None`` derivation is therefore only safe for queries that
       restart with the same ``defaultParallelism`` (same cluster size /
       ``local[N]``); any query that may resume after a resize MUST pass an
       explicit ``state_shards`` and keep it constant for the checkpoint's
       lifetime. The derived value is recoverable as
       ``derived_state_shards(spark)`` (the exact expression used here) and
       is logged at derivation time — record it next to the checkpoint
       location when relying on the default.

    State is BOUNDED when ``ttl`` is set (the reference's freshness
    contract, vector TTL in its search options): each bucket member
    carries its event time (``event_time_col``; row order rank when absent),
    a new arrival only pairs with members whose event time is within ``ttl``
    of its own — SYMMETRIC, ``|et_i - et_j| <= ttl`` (r8 ADVICE #2: the old
    one-sided bound let an out-of-order arrival pair with members newer than
    itself by more than ttl, making the output depend on arrival order) —
    and older members are physically evicted from the state after each
    batch, so per-bucket state holds one TTL-window of signatures, not the
    full history. ``ttl=None`` keeps full history (exact batch parity over
    a finite replay).

    .. note:: **Checkpoint format break (r8; key layout changed again in
       r15).** The keyed state moved from ``array<string>/
       array<array<bigint>>`` columns to packed binary blobs (state
       version: the 6-field binary layout below); r15 additionally packs
       band keys as raw little-endian int64 slice bytes (``key_width`` =
       bytes) instead of UCS4 decimal text (``key_width`` = chars). A query
       restarted from a checkpoint written by an older layout fails or
       mis-types the key buffer — start it with a fresh checkpoint
       directory; there is no in-place migration.

    Eviction is LAZY by ``late_slack`` (r5 ADVICE #1): a member is evicted
    only once its event time falls below ``max_event_time_seen - ttl -
    late_slack``, where the max is tracked monotonically across batches in
    the state (per shard). ``late_slack`` is the allowed event-time
    out-of-orderness — the watermark contract expressed in the stream's
    own (abstract long) time units: any arrival at most ``late_slack``
    behind its shard's max sees exactly the members its TTL window
    entitles it to, REGARDLESS of how the stream was batched. With the
    default ``late_slack=0`` the output is batching-independent only for
    monotone event times (the documented assumption); arrivals later than
    the slack may miss pairs with already-evicted members, exactly as a
    watermark-dropped late row would.

    The signature comparison is numpy-vectorized ONCE PER MICRO-BATCH (r6
    What's-wrong #2: the previous per-arrival ``np.append``/``np.vstack``
    loop did O(rows^2) state copies per (key, batch)): the shard's batch
    arrivals are stacked into a (B × num_perm) matrix and scored against
    exactly their own bucket's history/earlier arrivals through
    searchsorted range arithmetic — no per-row and no per-bucket Python
    loop on the emit path; the state arrays are concatenated and re-sorted
    once at the end of the batch."""
    import pandas as pd

    from vstream_spark.operators.dedup import minhash_signatures

    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm")
    if ttl is not None and event_time_col is None:
        raise ValueError("ttl requires event_time_col")
    rows = num_perm // bands
    # the event-time column rides THROUGH the signature projection chain
    # (keep_cols) — joining it back would be a stateful stream-stream join
    if event_time_col:
        stamped = docs_stream.withColumn(
            "et", F.col(event_time_col).cast("long")
        )
        sigs = minhash_signatures(stamped, n, num_perm, seed, keep_cols=["et"])
    else:
        sigs = minhash_signatures(docs_stream, n, num_perm, seed).withColumn(
            "et", F.lit(0).cast("long")
        )
    # band key = the RAW signature slice (array<bigint>), not a decimal
    # string (r15; mirrors the batch operator): removes 64 interpreted
    # long->string conversions + concat per doc per micro-batch, narrows the
    # (band, shard) shuffle payload (~40-80 string bytes -> 4 longs), and
    # lets the state function pack keys as fixed-width raw bytes instead of
    # UCS4 text. Slice equality IS the old string equality (non-negative
    # int64, ','-joined decimal injective), so bucket membership — and the
    # emitted pair set — is bit-identical.
    banded = sigs.select(
        "doc_id",
        "sig",
        "et",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice("sig", i * rows + 1, rows),
            )
        ).alias("band", "band_key"),
    )

    def pair_new_arrivals(key, pdfs, state):
        import numpy as np

        band_idx = int(key[0])  # the group's own band — min-band emission
        kw = 8 * rows  # fixed byte width of a packed band key (rows int64s)
        if state.exists:
            # state is PACKED BINARY (r7 VERDICT #4): the old
            # array<string>/array<array<bigint>> encoding round-tripped
            # ~rows x (num_perm + 3) Arrow cells per shard per micro-batch
            # regardless of arrivals — the suite's largest residual cost.
            # numpy frombuffer/tobytes moves the same state as 4 opaque
            # blobs (one Arrow cell each), ~num_perm x fewer cells and no
            # per-element Python list materialization on either direction.
            # r15: keys are the RAW int64 slice bytes ('S<8*rows>', 32 B at
            # the 64/16 defaults) instead of fixed-width UCS4 decimal text
            # (up to ~320 B) — key equality is unchanged (distinct raw
            # bytes <=> distinct slices; numpy's trailing-null stripping
            # cannot alias two fixed-width keys, it only strips padding
            # both sides share), ~10x narrower state, and no Python string
            # materialization per member per batch. key_width now records
            # BYTES (was UCS4 chars) — a pre-r15 checkpoint is incompatible
            # (same contract break as r7; start fresh checkpoints).
            (keys_raw, ids_raw, ets_raw, sigs_raw, key_width, max_et) = state.get
            h_keys = np.frombuffer(keys_raw, dtype=f"S{max(1, int(key_width))}")
            h_ids = np.frombuffer(ids_raw, dtype=np.int64)
            h_ets = np.frombuffer(ets_raw, dtype=np.int64)
            h_mat = np.frombuffer(sigs_raw, dtype=np.int64).reshape(-1, num_perm)
            max_et = int(max_et)
        else:
            h_keys = np.empty(0, dtype=f"S{kw}")
            h_ids = np.empty(0, dtype=np.int64)
            h_ets = np.empty(0, dtype=np.int64)
            h_mat = np.empty((0, num_perm), dtype=np.int64)
            max_et = None
        # stack the shard's whole micro-batch once, then STABLE-sort by
        # bucket key: arrival order (row order) is preserved within a
        # bucket, which is the only place order carries meaning
        parts = [pdf for pdf in pdfs if len(pdf)]
        if parts:
            pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            # pack each arrival's slice to its fixed-width raw bytes in one
            # C-level stack+view (the old path built a Python string and a
            # UCS4 cell per arrival per band)
            b_keys = (
                np.ascontiguousarray(
                    np.stack(pdf["band_key"].to_numpy()).astype(
                        np.int64, copy=False
                    )
                )
                .view(f"S{kw}")
                .ravel()
            )
            b_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            b_ets = pdf["et"].to_numpy(dtype=np.int64)
            # rows arrive as numpy arrays inside an object column: stack is
            # a single C-level copy; the old per-row list() materialized
            # rows x num_perm Python ints per shard per batch
            b_mat = np.stack(pdf["sig"].to_numpy()).astype(
                np.int64, copy=False
            ).reshape(len(pdf), num_perm)
            order = np.argsort(b_keys, kind="stable")
            b_keys, b_ids, b_ets, b_mat = (
                b_keys[order], b_ids[order], b_ets[order], b_mat[order],
            )
        else:
            b_keys = np.empty(0, dtype=f"S{kw}")
            b_ids = np.empty(0, dtype=np.int64)
            b_ets = np.empty(0, dtype=np.int64)
            b_mat = np.empty((0, num_perm), dtype=np.int64)
        nb = len(b_ids)
        pair_i: list[np.ndarray] = []  # batch-row index of the later member
        pair_jid: list[np.ndarray] = []  # doc_id of the earlier member
        pair_jmat: list[np.ndarray] = []  # its signature rows

        # arrivals vs SAME-BUCKET history: h_keys is kept sorted, so each
        # batch row's bucket slice is a searchsorted range; ragged ranges
        # expand with repeat/cumsum arithmetic — no per-bucket Python loop
        if nb and len(h_ids):
            lo = np.searchsorted(h_keys, b_keys, side="left")
            hi = np.searchsorted(h_keys, b_keys, side="right")
            counts = hi - lo
            tot = int(counts.sum())
            if tot:
                b_rep = np.repeat(np.arange(nb), counts)
                csum = np.cumsum(counts)
                in_rng = np.arange(tot) - np.repeat(csum - counts, counts)
                h_idx = np.repeat(lo, counts) + in_rng
                live = h_ids[h_idx] != b_ids[b_rep]
                if ttl is not None:
                    # SYMMETRIC window (r8 ADVICE #2): |et_i - et_j| <= ttl.
                    # A one-sided h_et >= b_et - ttl bound let an out-of-order
                    # arrival pair with history members arbitrarily NEWER than
                    # it; the two-sided bound makes the emitted pair set a
                    # pure function of event times (batching- and
                    # arrival-order-independent within late_slack retention)
                    live &= np.abs(h_ets[h_idx] - b_ets[b_rep]) <= ttl
                b_rep, h_idx = b_rep[live], h_idx[live]
                if len(b_rep):
                    pair_i.append(b_rep)
                    pair_jid.append(h_ids[h_idx])
                    pair_jmat.append(h_mat[h_idx])
        # arrivals vs earlier SAME-BUCKET arrivals in the batch: triangle
        # indices per equal-key segment (multi-member segments are rare)
        if nb > 1:
            seg_start = np.flatnonzero(
                np.concatenate([[True], b_keys[1:] != b_keys[:-1]])
            )
            seg_end = np.append(seg_start[1:], nb)
            tri_i, tri_j = [], []
            for s, e in zip(seg_start, seg_end):
                w = int(e - s)
                if w >= 2:
                    # triu rows < cols: ii = earlier segment row, jj = later
                    ii, jj = np.triu_indices(w, k=1)
                    tri_i.append(jj + s)
                    tri_j.append(ii + s)
            if tri_i:
                j_later = np.concatenate(tri_i)
                i_early = np.concatenate(tri_j)
                live = b_ids[i_early] != b_ids[j_later]
                if ttl is not None:
                    # same symmetric bound as the history path: in-batch
                    # "early/late" is row order, which says nothing about
                    # event-time order for out-of-order arrivals
                    live &= np.abs(b_ets[i_early] - b_ets[j_later]) <= ttl
                j_later, i_early = j_later[live], i_early[live]
                if len(j_later):
                    pair_i.append(j_later)
                    pair_jid.append(b_ids[i_early])
                    pair_jmat.append(b_mat[i_early])
        # ONE state concat per batch, re-sorted by key (C-speed on the
        # fixed-width unicode array), then lazy eviction below the slack line
        n_keys = np.concatenate([h_keys, b_keys])
        id_arr = np.concatenate([h_ids, b_ids])
        et_arr = np.concatenate([h_ets, b_ets])
        mat = np.concatenate([h_mat, b_mat])
        order = np.argsort(n_keys, kind="stable")
        n_keys, id_arr, et_arr, mat = (
            n_keys[order], id_arr[order], et_arr[order], mat[order],
        )
        if len(et_arr):
            batch_max = int(et_arr.max())
            max_et = batch_max if max_et is None else max(max_et, batch_max)
        if ttl is not None and len(et_arr) and max_et is not None:
            hold = et_arr >= max_et - ttl - late_slack
            n_keys, id_arr, et_arr, mat = (
                n_keys[hold], id_arr[hold], et_arr[hold], mat[hold],
            )
        # fixed-width raw-byte keys round-trip exactly through tobytes; the
        # byte width travels in the state so reload can re-type the buffer
        state.update(
            (
                np.ascontiguousarray(n_keys).tobytes(),
                np.ascontiguousarray(id_arr).tobytes(),
                np.ascontiguousarray(et_arr).tobytes(),
                np.ascontiguousarray(mat).tobytes(),
                kw,
                0 if max_et is None else max_et,
            )
        )
        # most shards emit nothing in a quiet batch — skipping the
        # empty-frame build/Arrow round-trip is free throughput
        if pair_i:
            bi = np.concatenate(pair_i)
            jid = np.concatenate(pair_jid)
            jmat = np.concatenate(pair_jmat)
            # MIN-BAND emission (r15): a pair colliding in several bands
            # used to surface once per band and be collapsed by a
            # downstream dropDuplicates — a whole extra STATEFUL operator
            # (shuffle + state stores + commit per micro-batch, state
            # growing with the pair universe). Both members' full
            # signatures are right here, and "collides in band b" is a
            # pure function of them (slice equality — exactly the bucket
            # key), so each group emits a pair only when ITS band is the
            # smallest colliding one: exactly-once globally, no dedup
            # stage. Identical to the deduped output whenever the earlier
            # member is still retained in the minimal band's shard — always
            # true for ttl=None, and for monotone event times (the
            # operator's documented batching-independence domain) because
            # every shard's eviction line max_et - ttl - late_slack sits at
            # or below any pair-qualifying et. Beyond-slack stragglers were
            # already in the documented may-miss-pairs regime.
            if band_idx > 0:
                a_bands = b_mat[bi].reshape(-1, bands, rows)[:, :band_idx]
                j_bands = jmat.reshape(-1, bands, rows)[:, :band_idx]
                keep = ~(a_bands == j_bands).all(axis=2).any(axis=1)
                bi, jid, jmat = bi[keep], jid[keep], jmat[keep]
        if pair_i and len(bi):
            est = np.empty(len(bi), dtype=np.float64)
            step = max(1, (1 << 22) // num_perm)
            for lo in range(0, len(bi), step):
                hi = min(lo + step, len(bi))
                est[lo:hi] = (
                    (b_mat[bi[lo:hi]] == jmat[lo:hi]).sum(axis=1) / num_perm
                )
            aid = b_ids[bi]
            yield pd.DataFrame(
                {
                    "doc_a": np.minimum(aid, jid),
                    "doc_b": np.maximum(aid, jid),
                    "jaccard_est": est,
                }
            )

    if state_shards is None:
        state_shards = derived_state_shards(docs_stream.sparkSession)
        import logging

        # shard count is baked into the checkpointed state key: log the
        # derived value so a checkpointed query's operator can pin it
        # explicitly on resume (see the docstring warning)
        logging.getLogger(__name__).info(
            "streaming_set_similarity: derived state_shards=%d from "
            "defaultParallelism — pass this value explicitly when resuming "
            "the query from a checkpoint on a differently-sized session",
            state_shards,
        )
    sharded = banded.withColumn(
        "shard", F.pmod(F.hash("band_key"), F.lit(state_shards))
    )
    pairs = sharded.groupBy("band", "shard").applyInPandasWithState(
        pair_new_arrivals,
        outputStructType="doc_a bigint, doc_b bigint, jaccard_est double",
        stateStructType=(
            "keys_raw binary, ids_raw binary, ets_raw binary, "
            "sigs_raw binary, key_width int, max_et bigint"
        ),
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    # exactly-once is enforced INSIDE the state function (min-band emission,
    # r15) — the old global dropDuplicates was a second stateful operator
    # whose pair-key state grew without bound; only the threshold filter
    # remains (stateless). Assumes distinct doc_ids, which the LSH dedup
    # contract already requires (self-pairs are id-filtered in-state).
    return pairs.filter(F.col("jaccard_est") >= threshold)
