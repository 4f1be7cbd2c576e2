"""Pure-numpy IVF (inverted-file) index — the flat-clustered alternative to
the HNSW segment artifact.

The reference persists one graph index per SST (C3,
``hnsw_table_builder.cc``); at 100 TB the graph build is the flush
bottleneck, so this module provides the cheaper scale path: a coarse
k-means quantizer + per-cell contiguous vector blocks. Build is a few
BLAS-bound Lloyd iterations (O(iters * n * nlist) flops, no Python graph
walk); search scans ``nprobe`` cells with one vectorized distance kernel
per query. Same filter semantics as the HNSW worker (W2/C1): ``min_ts``
freshness and ``mark_delete`` tombstones.

Determinism contract (Spark task retries): k-means init is drawn from a
seeded RandomState over label-sorted input, Lloyd runs a fixed iteration
count, and all ties break by (distance, label) — same input set => same
artifact bytes.

Cell blocks are stored contiguously sorted by (cell, label), so a probe
is a slice + one matmul — cache-friendly and allocation-free.
"""

from __future__ import annotations

import numpy as np

from vstream_spark.index.base import SlotIndex
from vstream_spark.index.distance import pairwise, rowwise


def _assign_chunked(
    vecs: np.ndarray, centroids: np.ndarray, chunk: int = 16384
) -> tuple[np.ndarray, np.ndarray]:
    """argmin assignment + its distance, chunked so the (chunk, nlist)
    distance matrix stays cache/memory-bounded at any n."""
    n = len(vecs)
    assign = np.empty(n, dtype=np.int64)
    best = np.empty(n, dtype=vecs.dtype)
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        d = pairwise(vecs[lo:hi], centroids, "l2")
        a = d.argmin(axis=1)
        assign[lo:hi] = a
        best[lo:hi] = d[np.arange(hi - lo), a]
    return assign, best


def _kmeans(
    vecs: np.ndarray,
    nlist: int,
    seed: int,
    iters: int = 10,
    max_train: int | None = None,
) -> np.ndarray:
    """Deterministic Lloyd k-means (L2 assignment regardless of search
    metric — cosine/ip inputs should be pre-normalized by the caller).

    Fully vectorized (the per-cell Python mean loop was the flush-path
    bottleneck at 250k-vector segments, r4 What's-wrong #4): assignment is
    chunked float32 BLAS, the centroid update is one bincount per dimension,
    and training runs on a seeded sample of at most ``max_train`` rows
    (faiss's pattern — clustering quality saturates at a few hundred points
    per centroid) with the full set only assigned once by the caller.
    Deterministic: seeded sample over label-sorted input, fixed iteration
    count, index-order tie-breaks."""
    vecs = np.ascontiguousarray(vecs, dtype=np.float32)
    n = len(vecs)
    rng = np.random.RandomState(seed)
    if max_train is None:
        max_train = max(nlist * 256, 4096)
    if n > max_train:
        train = vecs[rng.choice(n, size=max_train, replace=False)]
    else:
        train = vecs
    tn = len(train)
    centroids = train[rng.choice(tn, size=min(nlist, tn), replace=False)].copy()
    if len(centroids) < nlist:  # degenerate tiny input: pad by repetition
        reps = -(-nlist // len(centroids))
        centroids = np.tile(centroids, (reps, 1))[:nlist].copy()
    dim = train.shape[1]
    for _ in range(iters):
        assign, best = _assign_chunked(train, centroids)
        counts = np.bincount(assign, minlength=nlist).astype(np.float32)
        sums = np.empty((nlist, dim), dtype=np.float32)
        for j in range(dim):  # one bincount per dim: O(tn*dim), no cell loop
            sums[:, j] = np.bincount(assign, weights=train[:, j], minlength=nlist)
        nonempty = counts > 0
        centroids[nonempty] = sums[nonempty] / counts[nonempty, None]
        empties = np.where(~nonempty)[0]
        if len(empties):
            # deterministic empty-cell repair: hand each empty cell one of
            # the points farthest from its current centroid (descending
            # distance, lowest index on ties)
            far = np.argsort(-best, kind="stable")[: len(empties)]
            centroids[empties] = train[far]
    return centroids.astype(np.float64)


class IvfIndex(SlotIndex):
    """Coarse-quantized flat index over float64 vectors. ``ef_search`` in
    the search signatures is interpreted as ``nprobe``."""

    _CTOR = ("dim", "metric", "nlist", "nprobe")
    _STATE = ("centroids", "vecs", "labels", "ts", "deleted", "offsets")

    def __init__(self, dim: int, metric: str = "l2", nlist: int = 64, nprobe: int = 8):
        super().__init__(dim, metric)
        self.nlist = nlist
        self.nprobe = nprobe
        self.centroids = np.empty((0, dim), dtype=np.float64)
        # rows sorted by (cell, label); offsets[c]:offsets[c+1] slices cell c
        self.vecs = np.empty((0, dim), dtype=np.float64)
        self.offsets = np.zeros(nlist + 1, dtype=np.int64)

    # -- search ---------------------------------------------------------------

    def _probe_cells(self, q: np.ndarray, nprobe: int) -> np.ndarray:
        if len(self.centroids) == 0:
            return np.empty(0, dtype=np.int64)
        if self.metric == "cosine":
            # centroids are spherical (unit-norm training); probe in the
            # same space so cell ranking matches the training geometry
            nq = np.linalg.norm(q)
            if nq > 0:
                q = q / nq
        # MIP: rank cells by q·centroid — a high-IP cell's mean is high-IP
        # with the query; L2-nearest-direction misses high-norm cells
        metric = "ip" if self.metric == "ip" else "l2"
        d = pairwise(q[None, :], self.centroids, metric)[0]
        nprobe = min(nprobe, len(self.centroids))
        cells = np.argpartition(d, nprobe - 1)[:nprobe] if nprobe < len(d) else np.arange(len(d))
        return cells[np.lexsort((cells, d[cells]))]

    def search(
        self,
        q: np.ndarray,
        k: int,
        ef_search: int | None = None,
        min_ts: int | None = None,
        allow: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k (labels, distances) ascending by (distance, label), scanning
        the ``nprobe`` nearest cells. ``ef_search`` overrides nprobe.
        ``allow`` (optional slot-level bool mask) filters candidates inside
        the probed cells — the in-index attribute filter (FilterSeqTs
        analog): disallowed rows never enter the distance scan, so a
        filtered search costs the same probe work as an unfiltered one."""
        q = np.asarray(q, dtype=np.float64)
        nprobe = ef_search or self.nprobe
        rows = [np.arange(self.offsets[c], self.offsets[c + 1]) for c in self._probe_cells(q, nprobe)]
        if not rows:
            return np.empty(0, dtype=np.int64), np.empty(0)
        idx = np.concatenate(rows)
        ok = ~self.deleted[idx]
        if min_ts is not None:
            ok &= self.ts[idx] >= min_ts
        if allow is not None:
            ok &= allow[idx]
        idx = idx[ok]
        if len(idx) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0)
        ds = rowwise(self.vecs[idx], q, self.metric)
        take = min(k, len(idx))
        if take < len(idx):
            # argpartition alone picks an ARBITRARY subset of rows tied at
            # the kth distance, violating the (distance, label) contract —
            # widen the candidate set to every row at or under the kth
            # distance so the lexsort's label tie-break decides, exactly
            # like the exact scan (one extra vectorized compare, no loop)
            part = np.argpartition(ds, take - 1)[:take]
            cand = np.flatnonzero(ds <= ds[part].max())
        else:
            cand = np.arange(len(idx))
        order = np.lexsort((self.labels[idx[cand]], ds[cand]))[:take]
        top = cand[order]
        return self.labels[idx[top]], ds[top]


def build_ivf(
    vecs: np.ndarray,
    labels: np.ndarray,
    ts: np.ndarray | None = None,
    metric: str = "l2",
    nlist: int = 0,
    nprobe: int = 8,
    seed: int = 42,
) -> IvfIndex:
    """Build an IVF artifact over a shard. ``nlist=0`` auto-sizes to
    ~sqrt(n) cells (the classic IVF balance: probe cost ~ scan cost)."""
    order = np.argsort(labels, kind="stable")
    vecs = np.ascontiguousarray(vecs[order], dtype=np.float64)
    labels = np.asarray(labels)[order]
    ts = (
        np.asarray(ts)[order].astype(np.int64)
        if ts is not None
        else np.zeros(len(labels), dtype=np.int64)
    )
    n = len(labels)
    if nlist <= 0:
        nlist = max(1, min(4096, int(np.sqrt(n))))
    nlist = min(nlist, max(1, n))
    idx = IvfIndex(vecs.shape[1] if vecs.ndim == 2 and vecs.shape[0] else 0, metric, nlist, nprobe)
    if n == 0:
        return idx
    idx.dim = vecs.shape[1]
    train = vecs
    if metric == "cosine":
        # spherical k-means: cluster directions, not magnitudes
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        train = vecs / np.where(norms > 0, norms, 1.0)
    idx.centroids = _kmeans(train, nlist, seed)
    assign, _ = _assign_chunked(
        np.ascontiguousarray(train, dtype=np.float32),
        idx.centroids.astype(np.float32),
    )
    order2 = np.lexsort((labels, assign))
    idx.vecs = vecs[order2]
    idx.labels = labels[order2]
    idx.ts = ts[order2]
    idx.deleted = np.zeros(n, dtype=bool)
    idx.offsets = np.concatenate(
        ([0], np.cumsum(np.bincount(assign, minlength=nlist)))
    ).astype(np.int64)
    idx._map_labels()
    return idx
