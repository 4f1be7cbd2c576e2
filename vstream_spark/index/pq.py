"""Product-quantized segment artifact — the memory-bound scale path.

At 100 TB a float32 segment (250k × 128-dim = 128 MB raw) competes with the
executor's working memory; PQ codes (Jégou et al. 2011, the public IVF-PQ
family faiss implements) cut that ~32x: vectors are split into ``m``
subvectors, each quantized to one of 256 per-subspace centroids, and search
runs by Asymmetric Distance Computation — one (m, 256) query table, then a
pure gather+sum over the uint8 code matrix. No float vectors are kept at
query time.

The ``ef_search`` knob is ignored (ADC always scans every live code — still
~100x less memory traffic than a float scan). Deterministic: per-subspace
k-means uses the seeded Lloyd from ``index.ivf``; codes and codebooks are
byte-stable for a given input set.

Metrics (tables from ``index.distance.adc_tables``): 'l2' native ADC;
'ip' via inner-product tables, ``1 - <a,b>`` as every kind scores it;
'cosine' trains on unit-normalized vectors and uses the unit-sphere
identity cos_dist = ||u - v||^2 / 2.
"""

from __future__ import annotations

import numpy as np

from vstream_spark.index.base import SlotIndex
from vstream_spark.index.distance import adc_distances, adc_tables, pairwise
from vstream_spark.index.ivf import _kmeans


class PqIndex(SlotIndex):
    """ADC search over uint8 product codes."""

    _CTOR = ("dim", "metric", "m", "nbits")
    _STATE = ("codebooks", "codes", "labels", "ts", "deleted")

    def __init__(self, dim: int, metric: str = "l2", m: int = 8, nbits: int = 8):
        super().__init__(dim, metric)
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m {m} subvectors")
        if not 1 <= nbits <= 8:
            raise ValueError("nbits must be in [1, 8]")
        self.m = m
        self.nbits = nbits
        self.ksub = 1 << nbits
        self.dsub = dim // m
        # (m, ksub, dsub) per-subspace centroids
        self.codebooks = np.zeros((m, self.ksub, self.dsub), dtype=np.float32)
        self.codes = np.empty((0, m), dtype=np.uint8)

    # -- search ---------------------------------------------------------------

    def _adc_table(self, q: np.ndarray) -> np.ndarray:
        """(m, ksub) per-subspace distance contributions for one query."""
        if self.metric == "cosine":
            nq = np.linalg.norm(q)
            if nq > 0:
                q = q / nq
        qs = q.reshape(self.m, self.dsub).astype(np.float32)
        return adc_tables(self.codebooks, qs, self.metric)

    def search(
        self,
        q: np.ndarray,
        k: int,
        ef_search: int | None = None,
        min_ts: int | None = None,
        allow: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k (labels, approx distances) ascending by (distance, label).
        ``allow`` (optional slot-level bool mask) filters rows before the
        ADC gather — the in-index attribute filter (FilterSeqTs analog)."""
        if self.n == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        tab = self._adc_table(np.asarray(q, dtype=np.float64))
        ok = ~self.deleted[: self.n]
        if min_ts is not None:
            ok &= self.ts[: self.n] >= min_ts
        if allow is not None:
            ok &= allow
        idx = np.nonzero(ok)[0]
        if len(idx) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        # ADC: gather each row's m table entries and sum
        ds = adc_distances(tab, self.codes[idx], self.metric)
        take = min(k, len(idx))
        top = np.argpartition(ds, take - 1)[:take] if take < len(idx) else np.arange(len(idx))
        order = np.lexsort((self.labels[idx[top]], ds[top]))
        top = top[order]
        return self.labels[idx[top]], ds[top]

    def memory_bytes(self) -> int:
        """Code storage only (the float vectors are NOT retained)."""
        return self.codes.nbytes + self.codebooks.nbytes


def build_pq(
    vecs: np.ndarray,
    labels: np.ndarray,
    ts: np.ndarray | None = None,
    metric: str = "l2",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
) -> PqIndex:
    """Train per-subspace codebooks and encode the shard. Label-sorted for
    retry determinism (same contract as build_index/build_ivf)."""
    order = np.argsort(labels, kind="stable")
    vecs = np.ascontiguousarray(vecs[order], dtype=np.float64)
    labels = np.asarray(labels)[order]
    ts = (
        np.asarray(ts)[order].astype(np.int64)
        if ts is not None
        else np.zeros(len(labels), dtype=np.int64)
    )
    n = len(labels)
    dim = vecs.shape[1] if vecs.ndim == 2 and n else 0
    if n == 0:
        return PqIndex(max(dim, m), metric, m, nbits)
    idx = PqIndex(dim, metric, m, nbits)
    train = vecs
    if metric == "cosine":
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        train = vecs / np.where(norms > 0, norms, 1.0)
    ksub = min(idx.ksub, n)  # degenerate shards: fewer codes than ksub
    codes = np.zeros((n, m), dtype=np.uint8)
    for s in range(m):
        sub = np.ascontiguousarray(train[:, s * idx.dsub : (s + 1) * idx.dsub])
        cents = _kmeans(sub, ksub, seed + s)
        idx.codebooks[s, :ksub] = cents
        if ksub < idx.ksub:
            # pad unused codes with the first centroid (never assigned)
            idx.codebooks[s, ksub:] = cents[0]
        codes[:, s] = pairwise(sub, cents, "l2").argmin(axis=1).astype(np.uint8)
    idx.codes = codes
    idx.labels = labels
    idx.ts = ts
    idx.deleted = np.zeros(n, dtype=bool)
    idx._map_labels()
    return idx
