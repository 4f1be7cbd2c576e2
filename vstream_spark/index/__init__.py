from __future__ import annotations

import pickle
from typing import Callable, NamedTuple

import numpy as np

from vstream_spark.config import VectorIndexConf
from vstream_spark.index.base import SlotIndex
from vstream_spark.index.flat import FlatIndex, build_flat
from vstream_spark.index.hnsw import HnswIndex, build_index
from vstream_spark.index.ivf import IvfIndex, build_ivf
from vstream_spark.index.pq import PqIndex, build_pq

__all__ = [
    "FlatIndex", "HnswIndex", "KINDS", "SlotIndex", "build_from_conf", "loads",
    "resolve_index_kind",
]


class Kind(NamedTuple):
    """One index kind: its class, whose ``loads`` reads the kind's
    artifacts, and its build ``(vecs, ids, conf, ts) -> index`` with the
    conf's metric and parameters."""

    cls: type[SlotIndex]
    build: Callable


# The one place a kind name maps to code: segment sidecars are named by
# kind, the searcher loads them through ``cls`` and every build (segment
# artifacts, the partitioned worker) goes through ``build``.
KINDS = {
    "flat": Kind(FlatIndex, lambda vecs, ids, conf, ts: build_flat(
        vecs, ids, ts=ts, metric=conf.metric
    )),
    "hnsw": Kind(HnswIndex, lambda vecs, ids, conf, ts: build_index(
        vecs, ids, ts=ts, metric=conf.metric, M=conf.m, ef_construction=conf.ef_construction
    )),
    "ivf": Kind(IvfIndex, lambda vecs, ids, conf, ts: build_ivf(
        vecs, ids, ts=ts, metric=conf.metric, nlist=conf.nlist, nprobe=conf.nprobe
    )),
    "pq": Kind(PqIndex, lambda vecs, ids, conf, ts: build_pq(
        vecs, ids, ts=ts, metric=conf.metric, m=conf.pq_m, nbits=conf.pq_nbits
    )),
}


def resolve_index_kind(conf: VectorIndexConf, n: int) -> str:
    """``conf.index_kind`` for an ``n``-row build: 'auto' -> flat up to
    ``conf.auto_ivf_threshold`` rows, ivf above. Up to the default bound
    the exact flat scan beats IVF on build time, search time and recall
    (``tools/flat_crossover.py``, receipt in ``FLAT_CROSSOVER.txt``); IVF
    builds far faster than the numpy HNSW at better recall, so hnsw runs
    only where a caller names it."""
    if conf.index_kind == "auto":
        return "ivf" if n > conf.auto_ivf_threshold else "flat"
    return conf.index_kind


def loads(data: bytes) -> SlotIndex:
    """An index of any kind from its ``dumps`` bytes; kinds are told apart
    by their pickled keys, which no two kinds share (state blobs carry no
    kind name). Anything else, such as the marker tuple an older exact
    stateful worker checkpointed, raises ``ValueError``."""
    d = pickle.loads(data)
    kinds = {name: kind.cls._CTOR + kind.cls._STATE for name, kind in KINDS.items()}
    if isinstance(d, dict):
        for name, keys in kinds.items():
            if tuple(d) == keys:
                return KINDS[name].cls.from_fields(d)
    got = f"keys {tuple(d)}" if isinstance(d, dict) else f"a {type(d).__name__}"
    raise ValueError(
        f"not an index blob: {got}; expected a dict with the keys of one kind: {kinds}"
    )


def build_from_conf(
    vecs: np.ndarray,
    ids: np.ndarray,
    conf: VectorIndexConf,
    ts: np.ndarray | None = None,
):
    """Build the index ``conf`` names over one shard, at ``conf.metric`` —
    behind segment artifacts and the partitioned worker. Returns
    ``(resolved_kind, index)``."""
    vecs = np.asarray(vecs, dtype=np.float32)
    ids = np.asarray(ids, dtype=np.int64)
    kind = resolve_index_kind(conf, len(ids))
    return kind, KINDS[kind].build(vecs, ids, conf, ts)
