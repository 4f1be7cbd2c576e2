"""Engine configuration objects.

Mirrors the configuration surface of the reference's ``util/Parameters.java``
(456 lines of YAML-backed fields) and the C++ collection and per-query search
options (``plugin/vectorbackend/options/vector_options.h:24-95``)
— but only the fields that are meaningful for a Spark-first engine. Dimension
and metric are explicit config, never inferred (reference ``Parameters.java:40``,
``vector_options.h:25``).
"""

from __future__ import annotations

from dataclasses import dataclass

SUPPORTED_METRICS = ("l2", "ip", "cosine")


@dataclass(frozen=True)
class VectorIndexConf:
    """Per-collection vector index and search configuration — the one
    config object for every index build and segment search.

    Reference mapping (SURVEY §2.6 C10): dim/metric from
    ``VectorColumnFamilyOptions`` (``vector_options.h:24-53``), so
    ``metric`` is the collection's one distance space; termination knobs
    from the per-query search options (``vector_options.h:79-95``), whose
    k/ef_search (no metric) are ``SegmentSearcher.search`` arguments; HNSW
    shape (M/efConstruction/efSearch) from ``params.yaml:54-56``. The
    reference's 250k vectors-per-HNSW-table cap (``params.yaml:58``) is
    ``SegmentStore(max_rows_per_segment=)``.
    """

    dim: int = 128
    # the collection's one metric (the reference's CF space), the only one a
    # segment build or search or the stateful worker reads: 'l2' (squared
    # L2), 'ip', 'cosine' — hnswlib.h:252
    metric: str = "l2"
    m: int = 16
    ef_construction: int = 128
    ef_search: int = 16
    # Index kind of every segment and partition build: 'flat' (exact scan,
    # no artifact at flush: its parquet is the index), 'hnsw' (graph),
    # 'ivf' (coarse-quantized flat; ~20x cheaper build than the graph),
    # 'pq' (product-quantized ADC codes, ~32x less memory — the path when
    # segments outgrow executor RAM), or 'auto' (flat up to
    # auto_ivf_threshold rows, ivf above; hnsw runs only where a caller
    # names it). nlist=0 -> ~sqrt(n).
    index_kind: str = "auto"
    nlist: int = 0
    nprobe: int = 8
    # The largest measured size up to which the flat scan beats ivf, the
    # kind 'auto' takes above it, on build time, search time and recall at
    # once (tools/flat_crossover.py, receipt in FLAT_CROSSOVER.txt: 128-d,
    # 250 queries, one BLAS thread). At 4,096 rows ivf searches 250
    # queries in 140 ms against the scan's 243, after a 74 ms build.
    auto_ivf_threshold: int = 1_024
    pq_m: int = 8  # PQ subvectors (dim % pq_m == 0)
    pq_nbits: int = 8  # bits per code (<= 8)
    # ADC over-fetch factor: the worker rescores refine*k ADC candidates
    # exactly against the partition's float block (faiss IndexRefineFlat
    # pattern) — recovers the recall quantization costs at larger shards
    pq_refine: int = 4
    # Segment-search job granularity (r11 VERDICT #1): the searcher visits
    # this many temperature-ordered segments PER Spark job (one task per
    # query partition searches each of them in turn and merges them to
    # top-k per query; the driver-side M1 merge + C8 termination check run
    # once per chunk over at most 2·|Q|·k hit rows). 1 = the reference's
    # SST-at-a-time shape (version_set.cc:2585-2697, where the per-file
    # step is a C++ call, not a scheduler round trip); >1 amortizes driver
    # job-launch latency at multi-segment stores without changing results
    # (a chunk searches a superset of what one-at-a-time would before each
    # termination check). Flat segments take no slot of this budget: a
    # search over all-flat segments is one job.
    segments_per_job: int = 4
    # Adaptive early termination across segments (db/version_set.cc:2643-2697).
    termination_weight: float = 0.01
    termination_factor: float = 0.8
    termination_threshold: float = 0.0
    termination_lower_bound: float = 0.0

    def __post_init__(self) -> None:
        if self.metric not in SUPPORTED_METRICS:
            raise ValueError(f"metric must be one of {SUPPORTED_METRICS}, got {self.metric!r}")
        if self.dim <= 0:
            raise ValueError("dim must be positive")
        from vstream_spark.index import KINDS

        if self.index_kind not in (*KINDS, "auto"):
            raise ValueError(
                f"index_kind must be one of {sorted(KINDS)} or 'auto', got {self.index_kind!r}"
            )
        if self.segments_per_job < 1:
            raise ValueError("segments_per_job must be >= 1")


@dataclass(frozen=True)
class PartitionerConf:
    """Exchange-operator configuration (SURVEY §2.3).

    ``kind`` ∈ {'simple','lsh','lsh+random','lsh+proximity','lsh+hilbert',
    'lsh+zorder','lsh+gray','lsh+peano','kmeans','hilbert'} — the dispatch
    names of ``PartitionFunction.getPartitionFunction``
    (``partitioner/PartitionFunction.java:82-218``).

    LSH params mirror ``params.yaml:48-53``: ``num_families`` = k1 (replication
    families), ``num_hashes`` = k2 (hashes per family), ``bucket_width`` = r in
    ``h = floor((a.v + b)/r)`` (``L2Hash.java:35-38``), ``sfc_bits`` = curve
    resolution, ``update_interval``/``max_retained`` = dynamic-quantile epoch
    re-learning (``LSHashSpaceFillingPartitioner.java:118-145``).
    """

    kind: str = "lsh"
    num_partitions: int = 8
    seed: int = 42
    num_families: int = 1  # k1: replication factor for data
    num_hashes: int = 4  # k2: hashes per family
    bucket_width: float = 5.0  # r
    sfc_bits: int = 7
    num_probes: int = 0  # multiprobe fan-out (lsh+proximity)
    replication_factor: int = 1  # kmeans/hilbert nearest-R routing
    # IVF-style asymmetric fan-out: data stays at replication_factor cells,
    # queries probe query_fanout nearest cells (None = same as data side).
    query_fanout: int | None = None
    update_interval: int = 7_200_000  # epoch re-learn period (ms)
    max_retained: int = 1_000_000  # history window for quantile learning
    # Epoch freshness for P5 query fan-out (isFresh,
    # LSHashSpaceFillingPartitioner.java:353-355): queries skip epochs whose
    # time range cannot contain data within [event_time - max_ttl, event_time].
    # None = fan out to every learned epoch (no pruning).
    max_ttl: int | None = None
    # SAX / Odyssey (P8: OdysseyPartitionFunction.java:160-329, sax/SAX.java)
    sax_word_len: int = 8  # PAA segments per word
    sax_alphabet: int = 4  # symbols per segment (Gaussian breakpoints)
    hot_tracker_size: int = 8  # top-λ hot words spread across groups
