"""Segmented vector storage — the Spark-idiomatic analog of the reference's
HNSW-LSM (SURVEY §2.6, §7 Stage 3).

A *segment* is the unit the reference calls an HNSW memtable/SST (C2/C3:
``hnsw_table_builder.cc``, 250k vectors per table, ``params.yaml:58``). Here a
segment = one parquet directory of vector rows + a sidecar JSON with
statistics (count, min/max event_time). Searches prune segments whose
event-time range cannot satisfy the query's TTL window (C6 TTL file pruning,
``version_set.cc:2591``) before Spark ever plans a scan — a coarse file-level
skip on top of parquet row-group min/max pruning.

Mapping to reference concepts:
  append_segment   <- memtable flush (delayed flush = caller batches, C2)
  prune/search     <- Version::Get SST loop with TTL skip (C6)
  compact          <- manual compaction (auto-compaction disabled in the
                      reference, vector_options.h:46; size-tiered rebuild)
  evict            <- is_evict physical deletion of expired SSTs
                      (version_set.cc:2700-2730)

At cluster scale each segment is written with ``repartition`` sized to the
configured rows-per-file so executors read whole segments locally; the JSON
metadata is tiny driver state (O(segments), like the reference's manifest).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from dataclasses import replace

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from vstream_spark.config import VectorIndexConf
from vstream_spark.index import build_from_conf, resolve_index_kind
from vstream_spark.storage.manifest import ManifestLog

_META = "segments.json"
# percentile_approx accuracy of the time-ranged split: each bound it returns
# lies within n / accuracy ranks of its target over n rows
_QUANTILE_ACCURACY = 10_000


def _dequantize_segment_df(df: DataFrame) -> DataFrame:
    """(emb_scale, emb_q ARRAY<TINYINT>) -> emb ARRAY<FLOAT> (C5 int8 codec)."""
    emb = F.transform(
        F.col("emb_q"), lambda x: (x.cast("double") * F.col("emb_scale")).cast("float")
    )
    cols = [c for c in df.columns if c not in ("emb_q", "emb_scale")]
    return df.select(*cols, emb.alias("emb"))


_ZONE_CORE_COLS = {"emb", "emb_q", "emb_scale", "op", "sbkt", "rbkt"}


def attr_zone_stats(path: str) -> dict[str, list]:
    """Per-segment zone map: ``{column: [min, max]}`` for every NUMERIC
    attribute column, read from parquet row-group FOOTER statistics — no
    data scan, O(files) driver work at flush. The SST-properties analog of
    the reference's per-table metadata: C6 prunes segments by event-time
    range; these let the searcher prune segments by ATTRIBUTE range for
    in-index filtered search (``storage/search.py``) before any task
    launches.

    Soundness discipline: a column appears ONLY if every row group either
    carries min/max statistics or is provably all-NULL for it (NULL rows
    can never satisfy a comparison, so skipping them keeps the range a
    superset of the matchable values). Any row group with data but no
    stats drops the column entirely — absent column = never pruned.
    Booleans and non-numerics are excluded. FLOAT/DOUBLE columns are
    excluded too (ADVICE r13): parquet writers may emit NaN-IGNORING
    min/max with has_min_max=True, while Spark and duckdb both order NaN
    ABOVE every value — a hint like ``score > 1e9`` could then zone-prune
    a segment whose NaN rows actually match, a silent false negative the
    deficiency check only catches when a query under-fills k. Integer
    columns have no NaN, so their footer range is exact.
    """
    import glob as _glob

    import pyarrow.parquet as _pq

    out: dict[str, list] = {}
    dropped: set[str] = set()
    for fp in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        md = _pq.ParquetFile(fp).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name in _ZONE_CORE_COLS or "." in name or name in dropped:
                    continue
                if col.physical_type in ("FLOAT", "DOUBLE"):
                    # NaN-stats hazard (see docstring): never zone-map floats
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                st = col.statistics
                if st is not None and st.null_count == row_group.num_rows:
                    continue  # all-NULL group: no matchable values here
                if st is None or not st.has_min_max:
                    dropped.add(name)  # data without stats: never prune
                    out.pop(name, None)
                    continue
                mn, mx = st.min, st.max
                if (
                    isinstance(mn, bool)
                    or not isinstance(mn, (int, float))
                    or not isinstance(mx, (int, float))
                ):
                    dropped.add(name)
                    out.pop(name, None)
                    continue
                cur = out.get(name)
                if cur is None:
                    out[name] = [mn, mx]
                else:
                    cur[0] = min(cur[0], mn)
                    cur[1] = max(cur[1], mx)
    return out


def build_index_object(seg: dict, conf: VectorIndexConf):
    """Build ONE segment's index object from its parquet via pyarrow —
    the shared reader behind every artifact path: the flush-time
    sidecar build (``SegmentStore.build_segment_indexes``, one executor
    task per segment), and the search-side cache-miss rebuild
    (``storage/search.py::_segment_index``). The index itself comes from
    :func:`vstream_spark.index.build_from_conf` at ``conf.metric``; 'auto'
    resolves on the segment's row count, the same count the searcher names
    sidecars by.
    Returns ``(resolved_kind, index)``.

    Codec-aware: int8 segments dequantize with the same IEEE ops as the
    Catalyst projection (float32(double(q) * double(scale))) — bitwise
    identical, so artifacts built here match artifacts built from the
    float surface. Only the op='I' rows are read, and nothing is
    tombstoned at build: which version of an id a search may return is
    decided at search time from the store's version list
    (``SegmentStore.versions``), which respects the snapshot bound.
    """
    import glob

    import pyarrow.parquet as pq

    conf = replace(conf, index_kind=resolve_index_kind(conf, seg.get("count", 0)))
    int8 = seg.get("codec") == "int8"
    emb_cols = ["emb_q", "emb_scale"] if int8 else ["emb"]
    has_op = "op" in pq.read_schema(glob.glob(seg["path"] + "/*.parquet")[0]).names
    ins = pq.read_table(
        seg["path"],
        columns=["id", *emb_cols, "event_time"],
        filters=[("op", "=", "I")] if has_op else None,
    ).to_pandas()
    if ins.empty:  # a segment of delete markers only (delete_where)
        vecs = np.empty((0, conf.dim), dtype=np.float32)
    elif int8:
        codes = np.stack(ins["emb_q"].to_numpy()).astype(np.float64)
        scales = ins["emb_scale"].to_numpy().astype(np.float64)
        vecs = (codes * scales[:, None]).astype(np.float32)
    else:
        vecs = np.stack(ins["emb"].to_numpy()).astype(np.float32)
    ids = ins["id"].to_numpy().astype(np.int64)
    ts = ins["event_time"].to_numpy().astype(np.int64)
    return build_from_conf(vecs, ids, conf, ts=ts)


def _segment_versions(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, event_times) of every row of one segment, inserts and delete
    markers alike, read with pyarrow."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=["id", "event_time"])
    return (
        tbl["id"].to_numpy().astype(np.int64),
        tbl["event_time"].to_numpy().astype(np.int64),
    )


def _segment_meta(
    seg_id: str, path: str, n: int, tmin: int, tmax: int, codec: str | None
) -> dict:
    """One segment's manifest entry: id, path, row count, event-time range,
    the attribute zone map (footer-read, no scan) and the codec."""
    seg = {
        "id": seg_id,
        "path": path,
        "count": int(n),
        "min_event_time": int(tmin),
        "max_event_time": int(tmax),
    }
    zs = attr_zone_stats(path)
    if zs:
        seg["col_stats"] = zs
    if codec:
        seg["codec"] = codec
    return seg


class SegmentStore:
    """Append-only segmented vector store with TTL pruning + compaction."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        codec: str | None = None,
        dim: int | None = None,
        max_rows_per_segment: int | None = None,
    ):
        if codec not in (None, "int8"):
            raise ValueError(f"unsupported segment codec: {codec!r}")
        self.spark = spark
        self.base_dir = base_dir
        # C2 rotation cap (the reference's 250k vectors-per-HNSW-table,
        # params.yaml:58 / hnsw_table_builder.cc): batches above the cap
        # split into event-time-ranged segments via append_batch. None =
        # no rotation (append_segment's one-batch-one-segment contract).
        self.max_rows_per_segment = max_rows_per_segment
        # §1.3 parity: the reference's dimension is CONFIG, never inferred
        # (Parameters.java vectorDim; vector_options.h dim) — when set, every
        # flush validates it in the same stats pass (no extra scan)
        self.dim = dim
        # C5 vector compression (README "Vector compression";
        # compression/compression.cc): codec='int8' stores segments as
        # per-vector symmetric scalar-quantized (scale, q ARRAY<TINYINT>)
        # instead of ARRAY<FLOAT> — ~4x smaller at rest and over the wire.
        # read() dequantizes transparently, so every consumer (search,
        # compaction, index build) is codec-agnostic. Lossy by round(127
        # levels) — the ANN-tolerant trade the reference's design assumes.
        self.codec = codec
        os.makedirs(base_dir, exist_ok=True)
        # log-structured manifest: O(1) per flush (SCALE.md; the single-file
        # JSON rewrite was O(segments) per append — pathological at the
        # segment-per-micro-batch rate of a 100 TB ingest)
        self.manifest = ManifestLog(base_dir)
        # driver cache of each segment's versions: segment id -> (ids,
        # event_times) of all its rows (see versions)
        self._versions: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        legacy = os.path.join(base_dir, _META)
        if os.path.exists(legacy) and self.manifest.version() < 0:
            with open(legacy) as f:
                self.manifest.replace(json.load(f))
            os.replace(legacy, legacy + ".migrated")

    # -- manifest ------------------------------------------------------------

    def segments(self, as_of: int | None = None) -> list[dict]:
        """Segment list at manifest version ``as_of`` (default latest) —
        snapshot reads, the SequenceNumber-pinned Version the reference's LSM
        hands each open snapshot (db/version_set.cc). ``manifest.version()``
        after a flush is the token a caller pins to read that exact state
        later, regardless of subsequent flushes."""
        return self.manifest.snapshot(as_of)

    # -- write path ----------------------------------------------------------

    def _flush_stats(self, vectors: DataFrame):
        """One aggregation pass: row count, event-time range, and the dim
        validation (§1.3: dim is config, never inferred; delete markers may
        legitimately carry NULL emb). Raises on dimension mismatch."""
        aggs = [
            F.count("*").alias("n"),
            F.min("event_time").alias("tmin"),
            F.max("event_time").alias("tmax"),
        ]
        check_dim = self.dim is not None and "emb" in vectors.columns
        if check_dim:
            aggs.append(
                F.sum(
                    (
                        F.col("emb").isNotNull() & (F.size("emb") != F.lit(self.dim))
                    ).cast("long")
                ).alias("bad_dim")
            )
        stats = vectors.agg(*aggs).collect()[0]
        if check_dim and int(stats["bad_dim"] or 0) > 0:
            raise ValueError(
                f"dimension mismatch: {int(stats['bad_dim'])} row(s) with "
                f"size(emb) != {self.dim} (dim is config, never inferred)"
            )
        return stats

    def append_segment(self, vectors: DataFrame, _stats=None) -> dict | None:
        """Flush a batch of vector rows (id, emb, event_time, ttl, op) as one
        immutable segment. Returns the segment metadata (None for empty).
        ``_stats``: precomputed :meth:`_flush_stats` row (append_batch's
        rotation sizing already ran the pass — no second scan)."""
        stats = _stats if _stats is not None else self._flush_stats(vectors)
        if stats["n"] == 0:
            return None
        seg_id = f"seg-{time.strftime('%Y%m%d%H%M%S')}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.base_dir, seg_id)
        # C5 analog: the reference Gorilla-compresses vector blocks
        # (compression/compression.cc); Parquet's encodings + zstd are the
        # Spark-native equivalent. BYTE_STREAM_SPLIT was evaluated (r4): the
        # pyarrow writer can emit it (~9% smaller float leaves), but this
        # Spark's vectorized parquet reader throws "Unsupported encoding:
        # BYTE_STREAM_SPLIT" — BSS segments would break store.read(), so
        # zstd stands as the supported path (COVERAGE.md C5).
        vectors = self._encode(vectors)
        vectors.write.mode("errorifexists").option("compression", "zstd").parquet(path)
        seg = _segment_meta(
            seg_id, path, stats["n"], stats["tmin"], stats["tmax"], self.codec
        )
        self.manifest.append(seg)
        return seg

    def _encode(self, vectors: DataFrame) -> DataFrame:
        """Apply the store codec to the at-rest surface (C5 int8: per-vector
        symmetric scalar quantization); identity for the float codec."""
        if self.codec == "int8" and "emb" in vectors.columns:
            # scale hoisted to a column first: inlined in the code lambda it
            # re-evaluates the max-abs fold per array element (quantize.py)
            from vstream_spark.operators.quantize import quantize_expr, scale_expr

            others = [c for c in vectors.columns if c != "emb"]
            vectors = vectors.select(
                *others, "emb", scale_expr(F.col("emb")).alias("emb_scale")
            )
            _, q = quantize_expr(F.col("emb"), scale=F.col("emb_scale"))
            vectors = vectors.select(*others, "emb_scale", q.alias("emb_q"))
        return vectors

    def _write_time_ranged(
        self, df: DataFrame, total: int, cap: int, prefix: str
    ) -> list[dict]:
        """Shared time-ranged split writer (flush rotation AND compaction —
        one implementation so the two paths cannot drift): bucket the
        ``total`` rows of ``df`` by event-time quantiles, write ALL buckets
        in ONE partitioned parquet job, then HARD-enforce the row ``cap`` by
        re-splitting any staged bucket still over it. Returns one
        ``{path, n, tmin, tmax}`` dict per final bucket, ordered by
        (tmin, path).

        Why quantiles, not hash: hash-split segments would all carry the
        full time range and defeat C6 TTL pruning forever after.

        Bucket count: ``percentile_approx`` places each bound within
        ``total / accuracy`` ranks of its target, so a bucket between two
        bounds can hold up to twice that many rows more than its target.
        Buckets are sized with that headroom below the cap; sized at
        exactly the cap, every bucket that drew an upward error crossed it
        and the re-split below halved it. A flush large enough for the
        error to eat half the cap sizes buckets at half the cap and leaves
        the rest to the re-split, rather than asking for ever more
        quantiles.

        Why the re-split: quantile bounds compare with strict ``>``, so
        duplicate timestamps COLLAPSE buckets — a batch stamped with one
        ingestion time would land as a single segment of n rows and
        silently void the 250k cap (and the O(n^2)-sensitive HNSW sidecar
        build behind it). Enforcement works off the POST-write stats (which
        the manifest needs anyway), so the common case — distinct
        timestamps, no collapse — pays zero extra scans; only offending
        staged buckets are re-read. The re-split key is deterministic and
        row-unique (xxhash64 over every data column plus a duplicate-group
        row_number — retry/speculation-safe, unlike
        monotonically_increasing_id; ADVICE r11), so duplicate-id mass
        cannot defeat it, the sizing carries ~10% headroom, and the
        worklist loops until every bucket is under cap — the cap is an
        invariant, not a best effort. Re-split buckets share one time
        range, which TTL pruning tolerates (overlapping ranges are fine —
        UNBOUNDED segments are not).
        """
        import shutil

        rank_err = total // _QUANTILE_ACCURACY  # whole ranks within n / accuracy
        per_bucket = max((cap + 1) // 2, cap - 2 * rank_err)
        n_out = 1 if total <= cap else -(-total // per_bucket)
        if n_out <= 1:
            bucket = F.lit(0)
        else:
            qs = [i / n_out for i in range(1, n_out)]
            bounds = df.agg(
                F.percentile_approx("event_time", qs, _QUANTILE_ACCURACY).alias("b")
            ).collect()[0]["b"]
            uniq = sorted({int(b) for b in bounds})
            bucket = sum(
                (F.col("event_time") > F.lit(b)).cast("int") for b in uniq
            )
        staging = os.path.join(
            self.base_dir,
            f"{prefix}-{time.strftime('%Y%m%d%H%M%S')}-{uuid.uuid4().hex[:8]}",
        )
        (
            df.withColumn("sbkt", bucket)
            .repartition(n_out, "sbkt")
            .write.option("compression", "zstd")
            .partitionBy("sbkt")
            .parquet(staging)
        )

        def _bucket_stats(root: str, col: str) -> list[tuple]:
            return [
                (
                    os.path.join(root, f"{col}={int(r[col])}"),
                    int(r["n"]),
                    int(r["tmin"]),
                    int(r["tmax"]),
                )
                for r in (
                    self.spark.read.parquet(root)
                    .groupBy(col)
                    .agg(
                        F.count("*").alias("n"),
                        F.min("event_time").alias("tmin"),
                        F.max("event_time").alias("tmax"),
                    )
                    .collect()
                )
            ]

        parts: list[dict] = []
        work = _bucket_stats(staging, "sbkt")
        while work:
            path, n, tmin, tmax = work.pop()
            if n <= cap:
                parts.append(
                    {"path": path, "n": n, "tmin": tmin, "tmax": tmax}
                )
                continue
            # ~10% headroom so an even hash split lands under cap; the
            # worklist re-checks each piece, so residual skew re-splits
            m = max(2, -(-n * 10 // (cap * 9)))
            sub_dir = os.path.join(
                staging, f"resplit-{uuid.uuid4().hex[:8]}"
            )
            over = self.spark.read.parquet(path)
            # Deterministic row-unique re-split key (ADVICE r11):
            # monotonically_increasing_id() is nondeterministic across task
            # retries/speculation — a retried task would re-bucket rows
            # differently than the committed attempt wrote (the SPARK-23207
            # row-loss/duplication class). Instead: xxhash64 over EVERY data
            # column spreads distinct rows, and exact-duplicate rows get a
            # row_number within their duplicate group (identical rows are
            # interchangeable, so any 1..n assignment yields the same result
            # set on every attempt) — duplicate-row mass still cannot defeat
            # the cap. The per-split SALT breaks nested-modulus correlation:
            # every row in this bucket already satisfies hash % parent_m ==
            # this bucket's index, so re-hashing the SAME value mod a
            # divisor of parent_m would put all rows back into ONE child
            # bucket and loop forever. The salt is a driver-chosen literal
            # baked into the plan BEFORE the job runs — identical on every
            # task attempt, so retry-safety is preserved. Ordering the
            # window by the key columns themselves (not a constant) keeps
            # dup_seq deterministic even for DISTINCT rows that collide on
            # xxhash64 (null-field skipping or the 2^-64 case) — equal rows
            # remain interchangeable either way. Map-typed attribute
            # columns are excluded (Spark can neither hash nor order them);
            # rows differing only in a map column count as duplicates and
            # spread via dup_seq. The window's hash shuffle only runs on
            # the rare over-cap path, never the common flush.
            salt = os.path.basename(sub_dir)
            key_cols = [
                f.name
                for f in over.schema.fields
                if not isinstance(f.dataType, MapType)
            ]
            rowhash = F.xxhash64(*[F.col(c) for c in key_cols])
            dup_seq = F.row_number().over(
                Window.partitionBy(rowhash).orderBy(
                    *[F.col(c).asc_nulls_first() for c in key_cols]
                )
            )
            key = F.pmod(
                F.xxhash64(F.lit(salt), rowhash, dup_seq), F.lit(m)
            ).cast("int")
            (
                over.withColumn("rbkt", key)
                .repartition(m, "rbkt")
                .write.option("compression", "zstd")
                .partitionBy("rbkt")
                .parquet(sub_dir)
            )
            work.extend(_bucket_stats(sub_dir, "rbkt"))
            shutil.rmtree(path, ignore_errors=True)  # superseded staged dir
        return sorted(parts, key=lambda p: (p["tmin"], p["path"]))

    def append_batch(self, vectors: DataFrame) -> list[dict]:
        """Rotation-aware flush (C2 parity): a batch larger than
        ``max_rows_per_segment`` (the reference rotates HNSW tables at 250k
        vectors, ``params.yaml:58``) splits into event-time-RANGED segments
        via :meth:`_write_time_ranged` (shared with :meth:`compact`). Below
        the cap (or with no cap set) this is exactly one
        :meth:`append_segment`.

        The split writes all buckets in ONE partitioned parquet job
        (executors write their buckets concurrently — at 100 TB a big
        replay batch lands as hundreds of segments in a single pass), then
        appends one manifest entry per bucket.
        """
        cap = self.max_rows_per_segment
        if cap is None:
            seg = self.append_segment(vectors)
            return [seg] if seg is not None else []
        # one sizing pass shared with the no-split path: row count for the
        # split decision + the dim validation (no second scan either way)
        stats0 = self._flush_stats(vectors)
        n = int(stats0["n"])
        if n == 0:
            return []
        if n <= cap:
            seg = self.append_segment(vectors, _stats=stats0)
            return [seg] if seg is not None else []
        parts = self._write_time_ranged(self._encode(vectors), n, cap, "flush")
        segs = []
        for p in parts:
            seg = _segment_meta(
                f"seg-{uuid.uuid4().hex[:12]}", p["path"], p["n"], p["tmin"], p["tmax"],
                self.codec,
            )
            self.manifest.append(seg)
            segs.append(seg)
        return segs

    def build_segment_indexes(self, segs: list[dict], conf: VectorIndexConf) -> list[dict]:
        """C3 analog (hnsw_table_builder.cc): persist each segment's index
        artifact next to its parquet so readers load instead of rebuild
        (C4). The kind, its build parameters and the metric come from
        ``conf``, resolved per segment on its row count
        (``resolve_index_kind``, the same count the searcher resolves on).
        A segment that resolves to 'flat' — under the default 'auto', every
        segment up to ``auto_ivf_threshold`` rows — gets no artifact and no
        job: its parquet is the index, and the searcher reads it directly.
        Otherwise ``'hnsw'`` builds the graph; ``'ivf'`` the coarse k-means
        artifact (~20x cheaper — the scale path when flush rate outruns
        graph construction); ``'pq'`` product-quantized ADC codes (~32x
        less memory — for RAM-bound segments). The artifact lands beside the
        data (``<segment>/_<kind>-<metric>.idx``, underscore prefix keeps it
        invisible to parquet dataset discovery). Rebuild-on-retry is safe:
        all builds are deterministic (label-sorted input).

        All artifacts build in ONE Spark job, one task per segment: the
        reference builds each SST's graph single-node, but many SSTs build
        concurrently across the cluster as memtables rotate. Each task reads
        its segment parquet directly via pyarrow, the same reader the
        search-side cache uses.

        Each task writes the artifact beside its segment (tmp + atomic
        rename, unique tmp suffix so speculative/retried tasks can't
        torn-write); the manifest updates once, driver-side, after the job.
        Returns ``segs`` with ``index_file`` set on the built ones.
        """
        todo = [s for s in segs if resolve_index_kind(conf, s["count"]) != "flat"]
        if not todo:
            return list(segs)

        def one(seg: dict) -> tuple[str, str]:
            import os
            import uuid

            rkind, idx = build_index_object(seg, conf)
            out = os.path.join(seg["path"], f"_{rkind}-{conf.metric}.idx")
            tmp = f"{out}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as f:
                f.write(idx.dumps())
            os.replace(tmp, out)
            return seg["id"], out

        sc = self.spark.sparkContext
        results = dict(sc.parallelize(todo, len(todo)).map(one).collect())
        out_segs = []
        for seg in segs:
            out = results.get(seg["id"])
            if out is not None:
                self.manifest.update(seg["id"], index_file=out)
                seg = dict(seg, index_file=out)
            out_segs.append(seg)
        return out_segs

    def dump(self) -> DataFrame | None:
        """M4 debug op (RocksDBKeyedProcessFunction.dump:143-147): all ids
        currently stored, with their segment of origin."""
        segs = self.segments()
        if not segs:
            return None
        parts = []
        for s in segs:
            parts.append(
                self.spark.read.parquet(s["path"]).select("id").withColumn(
                    "segment_id", F.lit(s["id"])
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def upsert_batch(self, batch: DataFrame) -> dict | None:
        """W6 buffered upsert (``VectorKeyedDataProcessFunction.java:16-100``):
        flush only each id's newest row of the batch
        (:func:`~vstream_spark.operators.knn.newest_per_id`), so an insert
        followed by a later delete annihilates within the batch
        (``performLocalDeletes:86-96`` — ties keep the insert). Surviving
        delete markers are flushed too — they shadow matching ids in OLDER
        segments at read time (last-writer-wins).
        """
        from vstream_spark.operators.knn import newest_per_id

        # rotation-aware (no-op without max_rows_per_segment). Single
        # segment: its metadata verbatim. Rotated flush: an AGGREGATE dict
        # — count is the full flushed total (never one shard's), the time
        # range spans all shards, and every segment rides under
        # ``"segments"`` (returning segs[-1] under-reported the flush and
        # hid the other shards from the caller).
        segs = self.append_batch(newest_per_id(batch))
        if not segs:
            return None
        if len(segs) == 1:
            return segs[0]
        # id=None makes the aggregate unmistakable: it is NOT one segment's
        # metadata (no path/codec either) — address shards via "segments"
        return {
            "id": None,
            "count": sum(s["count"] for s in segs),
            "min_event_time": min(s["min_event_time"] for s in segs),
            "max_event_time": max(s["max_event_time"] for s in segs),
            "segments": segs,
        }

    def delete_where(self, predicate, event_time: int | None = None) -> dict | None:
        """Bulk erasure: flush delete markers for every LIVE id matching
        ``predicate`` (the GDPR / right-to-be-forgotten maintenance op a
        mutable vector store needs beyond per-record stream deletes).

        Logical-first like the stream path: ONE new tombstone segment is
        appended — no data segment is rewritten — and LWW masks the ids at
        read time; physical reclamation happens at the next compact/evict.
        At 100 TB this is a scan + filter + small flush, never a rewrite of
        the store.

        LWW only masks strictly-later, so a stale ``event_time`` would
        silently leave "erased" rows visible. The victims scan therefore
        computes ``max(event_time)`` of the matched inserts and (a) defaults
        ``event_time`` to max+1 when the caller omits it, (b) raises
        ``ValueError`` when the caller supplies one that is not strictly
        later — erasure can never silently no-op."""
        live = self.read()
        if live is None:
            return None
        victims = live.filter(F.col("op") == "I").filter(predicate)
        row = victims.agg(F.max("event_time").alias("mx")).collect()[0]
        if row["mx"] is None:  # predicate matched nothing: nothing to erase
            return None
        max_ts = int(row["mx"])
        if event_time is None:
            event_time = max_ts + 1
        elif int(event_time) <= max_ts:
            raise ValueError(
                f"delete_where event_time={event_time} is not strictly later "
                f"than the victims' max insert event_time={max_ts}; LWW would "
                "silently leave those rows visible. Pass a later timestamp or "
                "omit event_time to default to max+1."
            )
        markers = victims.select(
            "id",
            "emb",
            F.lit(int(event_time)).cast("long").alias("event_time"),
            "ttl",
            F.lit("D").alias("op"),
        ).dropDuplicates(["id"])
        return self.append_segment(markers)


    # -- read path -----------------------------------------------------------

    def versions(
        self, max_event_time: int | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(ids, event_times) of every row at or before ``max_event_time``,
        inserts and delete markers alike, over the live segments: the
        version list a search resolves last-writer-wins from. A segment is
        immutable, so its rows are read once, with pyarrow on the driver
        (16 B per row), and cached by segment id; entries of segments that
        left the manifest (evicted, compacted) are dropped on each call."""
        segs = self.segments()
        for sid in self._versions.keys() - {s["id"] for s in segs}:
            del self._versions[sid]
        ids, times = [], []
        for seg in segs:
            if max_event_time is not None and seg["min_event_time"] > max_event_time:
                continue
            vers = self._versions.get(seg["id"])
            if vers is None:
                vers = self._versions[seg["id"]] = _segment_versions(seg["path"])
            ids.append(vers[0])
            times.append(vers[1])
        ids = np.concatenate(ids) if ids else np.empty(0, np.int64)
        times = np.concatenate(times) if times else np.empty(0, np.int64)
        if max_event_time is not None:
            keep = times <= max_event_time
            ids, times = ids[keep], times[keep]
        return ids, times

    def prune(
        self,
        min_event_time: int | None = None,
        max_event_time: int | None = None,
        as_of: int | None = None,
    ) -> list[dict]:
        """Segments whose [min,max] event-time range intersects the window
        (C6: skip SSTs with latest_key_time < query freshness bound)."""
        out = []
        for seg in self.segments(as_of):
            if min_event_time is not None and seg["max_event_time"] < min_event_time:
                continue
            if max_event_time is not None and seg["min_event_time"] > max_event_time:
                continue
            out.append(seg)
        return out

    def read(
        self,
        min_event_time: int | None = None,
        max_event_time: int | None = None,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """Union of pruned segments as one DataFrame (None if nothing
        survives pruning). The event-time predicate is re-applied so parquet
        row-group pruning also kicks in below the segment skip. ``as_of``
        pins the read to an earlier manifest version (time travel): segments
        flushed after that version are invisible, exactly like an LSM read
        through an old SequenceNumber snapshot."""
        segs = self.prune(min_event_time, max_event_time, as_of=as_of)
        if not segs:
            return None
        df = self._read_segments(segs)
        if min_event_time is not None:
            df = df.filter(F.col("event_time") >= min_event_time)
        if max_event_time is not None:
            df = df.filter(F.col("event_time") <= max_event_time)
        return df

    def _read_segments(self, segs: list[dict]) -> DataFrame:
        """Union of segments with the float embedding surface restored —
        int8 segments dequantize in the scan projection (one codegen
        transform, no shuffle), so every consumer stays codec-agnostic."""
        plain = [s["path"] for s in segs if not s.get("codec")]
        quant = [s["path"] for s in segs if s.get("codec") == "int8"]
        parts = []
        if plain:
            parts.append(self.spark.read.parquet(*plain))
        if quant:
            parts.append(_dequantize_segment_df(self.spark.read.parquet(*quant)))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    # -- maintenance ---------------------------------------------------------

    def compact(
        self,
        max_rows_per_segment: int = 250_000,
        index_conf: VectorIndexConf | None = None,
    ) -> list[dict]:
        """Size-tiered compaction into EVENT-TIME-RANGED segments (the
        reference disables RocksDB auto-compaction and relies on explicit
        maintenance). Output segments are bucketed by event-time quantiles,
        not hash, so C6 TTL pruning stays effective after compaction — a
        hash merge would give every segment the full time range and make
        every future query scan everything. Last-writer-wins dedup happens
        at read time, not here, to preserve delete markers across TTL
        windows. When any input segment carried an artifact, the new
        segments get every kind the inputs carried (inferred from the
        sidecar names): that caller chose its kinds. When none did (a store
        of flat segments), each new segment gets the kind 'auto' resolves
        on its new row count — none while it is flat, ivf past the bound —
        so a merge past the bound leaves no segment without its artifact.
        Builds take their parameters from ``index_conf`` (the defaults
        when None), and a store without sidecars takes its metric: flat
        segments record none.
        """
        segs = self.segments()
        if len(segs) <= 1:
            return segs
        codecs = {s.get("codec") for s in segs}
        if len(codecs) == 1:
            # uniform schema: merge at-rest bytes as-is — int8 segments stay
            # int8 with NO requantization loss (codes copied, not recoded)
            out_codec = codecs.pop()
            df = self.spark.read.parquet(*[s["path"] for s in segs])
        else:
            # mixed store (e.g. codec flipped mid-life): normalize to the
            # store's configured codec via the float surface (one recode)
            out_codec = self.codec
            df = self._encode(self._read_segments(segs))
        total = df.count()
        old_paths = [s["path"] for s in segs]
        old_kinds = {
            os.path.basename(s["index_file"]).split("-")[0].lstrip("_")
            for s in segs
            if s.get("index_file")
        }
        metrics = {
            os.path.basename(s["index_file"]).rsplit("-", 1)[-1].removesuffix(".idx")
            for s in segs
            if s.get("index_file")
        }
        parts = self._write_time_ranged(df, total, max_rows_per_segment, "compact")
        new_segs = [
            _segment_meta(
                f"seg-compact-{uuid.uuid4().hex[:8]}", p["path"], p["n"], p["tmin"],
                p["tmax"], out_codec,
            )
            for p in parts
        ]
        self.manifest.replace(new_segs)
        # remove old segment data best-effort (local fs; on object stores this
        # is the VACUUM step)
        import shutil

        for p in old_paths:
            shutil.rmtree(p, ignore_errors=True)
        # carry index artifacts forward, one parallel job per (kind,
        # metric); flat inputs leave no sidecar to infer a kind from, so
        # they get the 'auto' kind (a segment without its artifact is
        # rebuilt by every executor that misses it in cache)
        conf = index_conf or VectorIndexConf()
        for kind in sorted(old_kinds) or ["auto"]:
            for metric in metrics or {conf.metric}:
                self.build_segment_indexes(
                    new_segs, replace(conf, index_kind=kind, metric=metric)
                )
        return self.segments()

    def evict(self, older_than_event_time: int) -> int:
        """Physically drop segments entirely older than the horizon
        (is_evict, version_set.cc:2700-2730). Returns #segments dropped."""
        import shutil

        gone = []
        for seg in self.segments():
            if seg["max_event_time"] < older_than_event_time:
                shutil.rmtree(seg["path"], ignore_errors=True)
                gone.append(seg["id"])
        if gone:
            self.manifest.remove(gone)
        return len(gone)
