from __future__ import annotations

import numpy as np

from vstream_spark.config import VectorIndexConf
from vstream_spark.index.hnsw import HnswIndex

__all__ = ["HnswIndex", "build_from_conf", "resolve_index_kind"]


def resolve_index_kind(conf: VectorIndexConf, n: int) -> str:
    """``conf.index_kind`` for an ``n``-row build: 'auto' -> hnsw up to
    ``conf.auto_ivf_threshold`` rows, ivf above (bulk graph construction is
    O(n^2) BLAS and crosses over around 64k rows)."""
    if conf.index_kind == "auto":
        return "ivf" if n > conf.auto_ivf_threshold else "hnsw"
    return conf.index_kind


def build_from_conf(
    vecs: np.ndarray,
    ids: np.ndarray,
    conf: VectorIndexConf,
    metric: str,
    ts: np.ndarray | None = None,
):
    """Build the index ``conf`` names over one shard — the single hnsw /
    ivf / pq dispatch behind segment artifacts and the partitioned worker.
    Returns ``(resolved_kind, index)``."""
    from vstream_spark.index.hnsw import build_index
    from vstream_spark.index.ivf import build_ivf
    from vstream_spark.index.pq import build_pq

    vecs = np.asarray(vecs, dtype=np.float32)
    ids = np.asarray(ids, dtype=np.int64)
    kind = resolve_index_kind(conf, len(ids))
    if kind == "ivf":
        idx = build_ivf(vecs, ids, ts=ts, metric=metric, nlist=conf.nlist, nprobe=conf.nprobe)
    elif kind == "pq":
        idx = build_pq(vecs, ids, ts=ts, metric=metric, m=conf.pq_m, nbits=conf.pq_nbits)
    else:
        idx = build_index(
            vecs, ids, ts=ts, metric=metric, M=conf.m, ef_construction=conf.ef_construction
        )
    return kind, idx
