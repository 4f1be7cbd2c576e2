"""Pure-numpy HNSW index — the per-partition ANN worker structure.

Re-expresses the reference's core index capability (HNSW memtables with
versioned tombstone deletes and timestamp filtering — W1/W2/W5/C1:
``plugin/vectorbackend/memtable/hnsw_memtablerep.cc:45-89``,
``plugin/vectorbackend/vectorindex/hnswlib/hnswlib.h:135-204``,
``HnswLibKeyedProcessFunction.java:19-101``) from public knowledge: the HNSW
algorithm (Malkov & Yashunin 2016) and the hnswlib API surface. No C++
dependency — hnswlib/faiss are not in this container — so the graph walk is
numpy-vectorized Python, deterministic and picklable.

Determinism contract (needed for Spark task retries): a node's level is
derived from ``hash(label, seed)``, not from insertion-order RNG, so the same
(label, vector) set builds the same graph regardless of batch boundaries
as long as insertion order is fixed (we sort by label in the worker).

Search supports the reference's filter semantics: ``min_ts`` (freshness,
``FilterSeqTs``: ts >= query.event_time - TTL) and tombstones
(``mark_delete`` = markDelete by label). Deleted/stale nodes still conduct
graph walks (like hnswlib's filter functor) but never appear in results.
"""

from __future__ import annotations

import heapq

import numpy as np

from vstream_spark.index.base import SlotIndex
from vstream_spark.index.distance import pairwise, rowwise


def _level_of(label: int, seed: int, m_l: float) -> int:
    """Deterministic exponential level draw from a label hash (splitmix64)."""
    mask = 0xFFFFFFFFFFFFFFFF
    x = ((label ^ seed) * 0x9E3779B97F4A7C15) & mask
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & mask
    x ^= x >> 31
    u = (x + 1) / 2.0**64  # (0, 1]
    return int(-np.log(u) * m_l)


class HnswIndex(SlotIndex):
    """Hierarchical navigable small-world graph over float32 vectors."""

    _CTOR = ("dim", "metric", "M", "ef_construction", "seed")
    _STATE = ("vecs", "labels", "ts", "deleted", "links", "entry", "max_level")
    _SLOT_ARRAYS = ("vecs", "labels", "ts", "deleted")
    _AT_REST = {"vecs": np.float32}  # compact artifact

    def __init__(
        self,
        dim: int,
        metric: str = "l2",
        M: int = 16,
        ef_construction: int = 128,
        seed: int = 42,
        capacity: int = 1024,
    ):
        super().__init__(dim, metric, capacity)
        self.M = M
        self.M0 = 2 * M
        self.ef_construction = ef_construction
        self.seed = seed
        self.m_l = 1.0 / np.log(M)
        # float64 storage: distance kernels run without per-call astype
        self.vecs = np.empty((capacity, dim), dtype=np.float64)
        self.links: list[list[list[int]]] = []  # node -> level -> neighbor ids
        self.entry: int = -1
        self.max_level: int = -1
        # packed level-0 adjacency (lazy; rebuilt after mutations) — lets the
        # beam search gather/filter neighbors in numpy instead of Python sets
        self._packed: tuple[np.ndarray, np.ndarray] | None = None

    def _dist(self, vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
        return rowwise(vecs, q, self.metric)

    # -- build ----------------------------------------------------------------

    def _grow(self, need: int) -> None:
        cap = len(self.labels)
        if self.n + need <= cap:
            return
        new = max(cap * 2, self.n + need)
        for name in self._SLOT_ARRAYS:
            arr = getattr(self, name)
            grown = np.zeros((new,) + arr.shape[1:], dtype=arr.dtype)
            grown[: self.n] = arr[: self.n]
            setattr(self, name, grown)

    def add_batch(self, vecs: np.ndarray, labels: np.ndarray, ts: np.ndarray | None = None) -> None:
        vecs = np.ascontiguousarray(vecs, dtype=np.float64)
        if ts is None:
            ts = np.zeros(len(labels), dtype=np.int64)
        for v, lb, t in zip(vecs, labels, ts):
            self.add_point(v, int(lb), int(t))

    def add_point(self, vec: np.ndarray, label: int, ts: int = 0) -> None:
        """Insert a label. Re-adding a held label (an upsert) retires its
        old node — tombstoned, it still routes walks but leaves the label
        map — and links the new vector as a fresh node, so the new version
        gets links chosen for where it is."""
        old = self._by_label.pop(label, None)
        if old is not None:
            self.deleted[old] = True
        self._grow(1)
        self._packed = None  # structural change: packed adjacency is stale
        i = self.n
        self.vecs[i] = vec
        self.labels[i] = label
        self.ts[i] = ts
        self.deleted[i] = False
        self.n += 1
        self._by_label[label] = i

        level = _level_of(label, self.seed, self.m_l)
        self.links.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry, self.max_level = i, level
            return

        q = self.vecs[i]
        ep = self.entry
        # greedy descent through the upper layers
        for lv in range(self.max_level, level, -1):
            ep = self._greedy(q, ep, lv)
        # insert with ef-search at each layer from min(level, max_level) down
        for lv in range(min(level, self.max_level), -1, -1):
            cands = self._search_layer(q, [ep], self.ef_construction, lv)
            m = self.M0 if lv == 0 else self.M
            chosen = [c for _, c in heapq.nsmallest(m, cands)]
            self.links[i][lv] = list(chosen)
            for c in chosen:
                nl = self.links[c][lv]
                nl.append(i)
                if len(nl) > m:  # shrink: keep the m nearest to c
                    base = self.vecs[c]
                    ds = self._dist(self.vecs[nl], base)
                    order = np.argsort(ds, kind="stable")[:m]
                    self.links[c][lv] = [nl[j] for j in order]
            ep = chosen[0] if chosen else ep
        if level > self.max_level:
            self.entry, self.max_level = i, level

    # -- search ---------------------------------------------------------------

    def _greedy(self, q: np.ndarray, ep: int, level: int) -> int:
        cur = ep
        cur_d = float(self._dist(self.vecs[cur : cur + 1], q)[0])
        improved = True
        while improved:
            improved = False
            nbrs = self.links[cur][level] if level < len(self.links[cur]) else []
            if not nbrs:
                break
            ds = self._dist(self.vecs[nbrs], q)
            j = int(np.argmin(ds))
            if float(ds[j]) < cur_d:
                cur, cur_d, improved = nbrs[j], float(ds[j]), True
        return cur

    def _ensure_packed(self) -> tuple[np.ndarray, np.ndarray]:
        """Level-0 adjacency as a padded int64 matrix + per-node degree.
        Built lazily (O(n*M0)); invalidated by structural inserts — the
        build-once/search-many pattern repacks at most once per batch."""
        if self._packed is None:
            lens = np.array(
                [len(nl[0]) if nl else 0 for nl in self.links[: self.n]],
                dtype=np.int64,
            )
            width = max(1, int(lens.max()) if len(lens) else 1)
            mat = np.zeros((self.n, width), dtype=np.int64)
            for i in range(self.n):
                row = self.links[i][0] if self.links[i] else []
                mat[i, : len(row)] = row
            self._packed = (mat, lens)
        return self._packed

    def _search_layer(
        self, q: np.ndarray, eps: list[int], ef: int, level: int, packed=None
    ):
        """Best-first search; returns a list of (dist, node) — ef nearest.

        With ``packed`` (level 0 in the query path) neighbor gather, visited
        filtering and bound pre-filtering run in numpy; construction and the
        tiny upper layers use the list-based path.
        """
        if packed is not None:
            links0, l0len = packed
            visited = np.zeros(self.n, dtype=bool)
            visited[eps] = True
        else:
            vset = set(eps)
        d0 = self._dist(self.vecs[eps], q)
        cand = [(float(d), e) for d, e in zip(d0, eps)]  # min-heap
        heapq.heapify(cand)
        best = [(-float(d), e) for d, e in zip(d0, eps)]  # max-heap (neg)
        heapq.heapify(best)
        while cand:
            d, c = heapq.heappop(cand)
            full = len(best) >= ef
            if best and d > -best[0][0] and full:
                break
            if packed is not None:
                nb = links0[c, : l0len[c]]
                nb = nb[~visited[nb]]
                if len(nb) == 0:
                    continue
                visited[nb] = True
                ds = self._dist(self.vecs[nb], q)
                if full:
                    # prune against the (stale-but-conservative) kth bound
                    sel = ds < -best[0][0]
                    nb, ds = nb[sel], ds[sel]
                nbrs = nb.tolist()
            else:
                nbrs = [
                    x
                    for x in (self.links[c][level] if level < len(self.links[c]) else [])
                    if x not in vset
                ]
                if not nbrs:
                    continue
                vset.update(nbrs)
                ds = self._dist(self.vecs[nbrs], q)
            for nd, nb_i in zip(ds, nbrs):
                nd = float(nd)
                if len(best) < ef or nd < -best[0][0]:
                    heapq.heappush(cand, (nd, nb_i))
                    heapq.heappush(best, (-nd, nb_i))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted((-nd, nb) for nd, nb in best)

    def _search_layer_filtered(
        self, q: np.ndarray, eps: list[int], ef: int, eligible: np.ndarray
    ):
        """Level-0 best-first search under a node eligibility mask — the
        in-traversal attribute filter (hnswlib's ``searchBaseLayerST`` with a
        filter functor, the shape the reference threads ``FilterSeqTs``
        through: ``hnswlib.h:135-146``, ``hnsw_table_reader.cc:1653-1738``).

        Every visited node CONDUCTS the walk (ineligible nodes still expand
        — dropping them would fragment the graph under selective filters),
        but only eligible nodes enter the result heap, so the ef bound and
        the termination test are over eligible candidates only. With no
        eligible node reachable the walk degrades to exhaustive — the
        routing layer keeps truly-selective predicates on the pre-filter
        branch for exactly this reason. Returns sorted (dist, node) pairs,
        all eligible.
        """
        links0, l0len = self._ensure_packed()
        visited = np.zeros(self.n, dtype=bool)
        visited[eps] = True
        d0 = self._dist(self.vecs[eps], q)
        cand = [(float(d), e) for d, e in zip(d0, eps)]  # traversal min-heap
        heapq.heapify(cand)
        best = [  # result max-heap (neg dist), ELIGIBLE nodes only
            (-float(d), e) for d, e in zip(d0, eps) if eligible[e]
        ]
        heapq.heapify(best)
        while cand:
            d, c = heapq.heappop(cand)
            full = len(best) >= ef
            if full and d > -best[0][0]:
                break
            nb = links0[c, : l0len[c]]
            nb = nb[~visited[nb]]
            if len(nb) == 0:
                continue
            visited[nb] = True
            ds = self._dist(self.vecs[nb], q)
            if full:
                sel = ds < -best[0][0]
                nb, ds = nb[sel], ds[sel]
            for nd, nb_i in zip(ds, nb.tolist()):
                nd = float(nd)
                if len(best) < ef or nd < -best[0][0]:
                    heapq.heappush(cand, (nd, nb_i))
                    if eligible[nb_i]:
                        heapq.heappush(best, (-nd, nb_i))
                        if len(best) > ef:
                            heapq.heappop(best)
        return sorted((-nd, nb) for nd, nb in best)

    def search(
        self,
        q: np.ndarray,
        k: int,
        ef_search: int | None = None,
        min_ts: int | None = None,
        allow: np.ndarray | None = None,
        eligible: np.ndarray | None = None,
        max_ts: int | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Top-k (labels, distances), ascending by (distance, label).

        min_ts and max_ts replicate the reference's freshness filter: only
        nodes with min_ts <= ts <= max_ts qualify (the window
        [query.event_time - TTL, query.event_time]). Tombstoned nodes never
        qualify. Matches the exact-path tiebreak (dist asc, id asc).

        ``allow`` (optional) is a slot-level bool mask. With an allowlist or
        a time bound the level-0 walk filters IN-TRAVERSAL
        (deleted/stale/disallowed nodes route but never enter the result
        heap), so a filtered search does ~ef eligible-candidate work instead
        of oversampling and a hard TTL still fills k — the
        ``FilterSeqTs``-functor analog. Without either, the walk drops
        tombstoned nodes from its ef results.
        ``eligible`` (optional) is a PRE-COMPOSED eligibility mask — the
        batch surface hoists the three O(n) boolean passes out of the
        per-query loop; when given, ``allow``/tombstone/``min_ts``
        composition is the caller's responsibility.
        """
        if self.n == 0 or self.entry < 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        ef = max(ef_search or self.ef_construction, k)
        q = np.asarray(q, dtype=np.float64)
        ep = self.entry
        for lv in range(self.max_level, 0, -1):
            ep = self._greedy(q, ep, lv)
        if eligible is None:
            eligible = self._eligibility(min_ts, allow, max_ts)
        if eligible is not None:
            n_elig = int(eligible.sum())
            if n_elig == 0:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
            # clamp the beam to the eligible population: with fewer
            # eligible nodes than ef the result heap could never fill, the
            # termination bound would never arm, and the walk would degrade
            # to an exhaustive component scan (the hnswlib
            # selective-filter pathology). ef = n_eligible keeps the beam
            # wide enough to hold EVERY eligible node while letting the
            # (dist > bound) cut prune distant regions. (ef >= k already;
            # when n_elig < k the beam holds every eligible node — all
            # that exist — and the store-level deficiency check escalates
            # the under-filled query regardless.)
            found = self._search_layer_filtered(
                q, [ep], min(ef, n_elig), eligible
            )
            ok = sorted((float(d), int(self.labels[i])) for d, i in found)[:k]
        else:
            found = self._search_layer(q, [ep], ef, 0, packed=self._ensure_packed())
            ok = sorted(
                (float(d), int(self.labels[i])) for d, i in found if not self.deleted[i]
            )[:k]
        return (
            np.asarray([lb for _, lb in ok], dtype=np.int64),
            np.asarray([d for d, _ in ok], dtype=np.float64),
        )

    def _batch_kwargs(self, min_ts, allow, max_ts) -> dict:
        """The composed eligibility mask is hoisted out of the per-query
        loop whenever both bounds are query-invariant (scalar or None) —
        a few O(n) boolean passes per BATCH, not per query. The stateful
        worker's per-query windows are per-query arrays, so each of its
        queries composes its own mask."""
        if np.ndim(min_ts) or np.ndim(max_ts):
            return {}
        return {"eligible": self._eligibility(min_ts, allow, max_ts)}


_BULK_THRESHOLD = 2048


def build_index(
    vecs: np.ndarray,
    labels: np.ndarray,
    ts: np.ndarray | None = None,
    metric: str = "l2",
    M: int = 16,
    ef_construction: int = 128,
    seed: int = 42,
    bulk: bool | None = None,
) -> "HnswIndex":
    """Build an index over a shard, sorted by label for retry determinism.

    ``bulk=None`` auto-selects: shards >= 2048 vectors use the blockwise
    exact-kNN bulk constructor (``build_index_bulk``, ~6x faster, BLAS-bound);
    smaller shards use incremental insertion. Both are deterministic for a
    given input set.
    """
    if bulk is None:
        bulk = len(labels) >= _BULK_THRESHOLD
    if bulk:
        return build_index_bulk(vecs, labels, ts, metric, M, ef_construction, seed)
    order = np.argsort(labels, kind="stable")
    idx = HnswIndex(
        vecs.shape[1], metric, M, ef_construction, seed, capacity=max(1, len(labels))
    )
    idx.add_batch(
        vecs[order], labels[order], ts[order] if ts is not None else None
    )
    return idx


def _exact_knn_links(vecs: np.ndarray, metric: str, m: int, block: int = 1024):
    """Exact m-nearest-neighbor lists for every row, blockwise BLAS.

    O(n^2) flops but pure matrix work — for shard-sized n (<= a few 100k)
    this is far faster than n incremental graph searches in Python.
    Distances run in float32 (sgemm is ~2x dgemm and argpartition moves
    half the bytes); candidate selection tolerates float32 — final graph
    search still uses the float64 kernels.
    """
    n = len(vecs)
    v32 = np.ascontiguousarray(vecs, dtype=np.float32)
    out = np.empty((n, min(m, n - 1)), dtype=np.int64)
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        d = pairwise(v32[lo:hi], v32, metric)
        d[np.arange(hi - lo), np.arange(lo, hi)] = np.inf  # exclude self
        k = out.shape[1]
        idx = np.argpartition(d, k - 1, axis=1)[:, :k]
        # order the k by (dist, id) for determinism
        rows = np.arange(hi - lo)[:, None]
        sel = d[rows, idx]
        order = np.lexsort((idx, sel), axis=1)
        out[lo:hi] = idx[rows, order]
    return out


_APPROX_THRESHOLD = 8192


def _approx_knn_links(
    vecs: np.ndarray,
    metric: str,
    m: int,
    seed: int,
    cell_size: int = 320,
    spill: int = 4,
) -> np.ndarray:
    """Approximate m-NN lists via clustered candidate generation (the
    faiss/ScaNN two-level pattern): a fast sampled k-means partitions the
    shard into ~``cell_size``-point cells, every point joins its ``spill``
    nearest cells (spill covers cell boundaries), and exact kNN runs only
    within each cell's member set — O(n * spill^2 * cell_size) distances
    instead of O(n^2). spill=4/cell_size=320 is tuned on the hardest case
    (64-dim uniform random, the r5/r6 hardening ask): recall@10 at
    ef_search=128 is 0.887 vs 0.911 for the exact O(n^2) graph, against
    0.78 at the old spill=2/cell_size=512 (an NN-descent refinement round
    was tried and rejected: +60% build time for less recall than widening
    the spill). Deterministic: seeded k-means over label-sorted input,
    (dist, id) tie-breaks. Returns an (n, m) int64 neighbor matrix (padded
    with the point's own index when a cell is tiny)."""
    from vstream_spark.index.ivf import _kmeans

    n = len(vecs)
    v32 = np.ascontiguousarray(vecs, dtype=np.float32)
    nlist = max(2, n // cell_size)
    cents = _kmeans(v32, nlist, seed).astype(np.float32)
    # top-``spill`` cells per point, chunked
    spill = min(spill, nlist)
    topc = np.empty((n, spill), dtype=np.int64)
    for lo in range(0, n, 16384):
        hi = min(lo + 16384, n)
        d = pairwise(v32[lo:hi], cents, "l2")
        part = np.argpartition(d, spill - 1, axis=1)[:, :spill]
        rows = np.arange(hi - lo)[:, None]
        order = np.argsort(d[rows, part], axis=1, kind="stable")
        topc[lo:hi] = part[rows, order]
    # accumulate candidate (point, neighbor, dist) triplets per cell
    pts_all, nbr_all, d_all = [], [], []
    membership = topc.T.ravel()
    owners = np.tile(np.arange(n), spill)
    order = np.argsort(membership, kind="stable")
    membership, owners = membership[order], owners[order]
    bounds = np.searchsorted(membership, np.arange(nlist + 1))
    for c in range(nlist):
        g = owners[bounds[c] : bounds[c + 1]]
        if len(g) < 2:
            continue
        gv = v32[g]
        k = min(m, len(g) - 1)
        for lo in range(0, len(g), 2048):
            hi = min(lo + 2048, len(g))
            dmat = np.asarray(pairwise(gv[lo:hi], gv, metric), dtype=np.float32)
            dmat[np.arange(hi - lo), np.arange(lo, hi)] = np.inf
            idx = np.argpartition(dmat, k - 1, axis=1)[:, :k]
            rows = np.arange(hi - lo)[:, None]
            pts_all.append(np.repeat(g[lo:hi], k))
            nbr_all.append(g[idx].ravel())
            d_all.append(dmat[rows, idx].ravel())
    if not pts_all:  # degenerate: every cell had < 2 members
        return np.tile(np.arange(n, dtype=np.int64)[:, None], (1, m))
    pts = np.concatenate(pts_all)
    nbrs = np.concatenate(nbr_all)
    ds = np.concatenate(d_all)
    # a pair sharing j>=2 of its spill cells appears j times, and the
    # distance copies come from SEPARATE gemm calls over different cell
    # member matrices — last-ulp float32 differences can separate the
    # copies in a (pts, ds, nbrs) sort, letting copies occupy several of
    # the m slots and displace true neighbors. Dedup on (pts, nbrs)
    # FIRST (keep the min-distance copy), then order per point (r6 ADVICE:
    # adjacency-only dedup after the distance sort was not airtight).
    order = np.lexsort((ds, nbrs, pts))
    pts, nbrs, ds = pts[order], nbrs[order], ds[order]
    if len(pts) > 1:
        keep = np.empty(len(pts), dtype=bool)
        keep[0] = True
        np.logical_or(pts[1:] != pts[:-1], nbrs[1:] != nbrs[:-1], out=keep[1:])
        pts, nbrs, ds = pts[keep], nbrs[keep], ds[keep]
    # per-point top-m by (dist, id): one lexsort over the deduped set.
    order = np.lexsort((nbrs, ds, pts))
    pts, nbrs = pts[order], nbrs[order]
    starts = np.searchsorted(pts, np.arange(n + 1))
    # vectorized gather-with-padding: row i takes its first m candidates,
    # short rows pad with i itself (self edges are dropped downstream)
    pos = starts[:-1, None] + np.arange(m)[None, :]
    valid = pos < starts[1:, None]
    out = np.where(
        valid,
        nbrs[np.minimum(pos, max(len(nbrs) - 1, 0))],
        np.arange(n, dtype=np.int64)[:, None],
    )
    return out


def build_index_bulk(
    vecs: np.ndarray,
    labels: np.ndarray,
    ts: np.ndarray | None = None,
    metric: str = "l2",
    M: int = 16,
    ef_construction: int = 128,
    seed: int = 42,
) -> HnswIndex:
    """Bulk-construct the layered graph from exact kNN lists (the C3 analog:
    the reference also builds each SST's HNSW in one pass at flush).

    Level-0 links are the exact M0 nearest neighbors (better quality than
    incremental insertion); upper levels link each node to its exact M
    nearest among same-or-higher-level nodes, preserving the HNSW descent
    structure. Deterministic: same inputs -> same graph. Search code is
    unchanged.
    """
    order = np.argsort(labels, kind="stable")
    vecs = np.ascontiguousarray(vecs[order], dtype=np.float64)
    labels = labels[order]
    ts = ts[order] if ts is not None else np.zeros(len(labels), dtype=np.int64)
    n = len(labels)
    idx = HnswIndex(vecs.shape[1], metric, M, ef_construction, seed, capacity=max(1, n))
    if n == 0:
        return idx
    idx.vecs[:n] = vecs
    idx.labels[:n] = labels
    idx.ts[:n] = ts
    idx._map_labels()
    levels = np.array(
        [_level_of(int(lb), seed, idx.m_l) for lb in labels], dtype=np.int64
    )
    idx.links = [[[] for _ in range(levels[i] + 1)] for i in range(n)]
    v32 = vecs.astype(np.float32)  # graph selection tolerates f32 distances

    def _symmetrize(nbr_mat: np.ndarray, ids: np.ndarray, cap: int):
        """Add reverse edges (directed kNN graphs route poorly: a hub may be
        nearest to many nodes that it doesn't link back to), dedup, then trim
        each node's list to the cap nearest by (dist, id). Fully vectorized —
        one unique over the canonical (undirected) edge set, one chunked f32
        row-distance pass shared by both directions (all three metrics are
        symmetric), one lexsort (the per-node set/loop version was 25% of the
        64k build)."""
        nn = len(nbr_mat)
        src = np.repeat(np.arange(nn, dtype=np.int64), nbr_mat.shape[1])
        dst = nbr_mat.ravel().astype(np.int64)
        keep = src != dst  # drop self-padding
        src, dst = src[keep], dst[keep]
        lo_, hi_ = np.minimum(src, dst), np.maximum(src, dst)
        uniq = np.unique(lo_ * np.int64(nn) + hi_)  # one key per undirected edge
        ua, ub = uniq // nn, uniq % nn
        uds = np.empty(len(ua), dtype=np.float32)
        # small chunks + reused gather buffers: this box page-faults large
        # fresh allocations at ~100MB/s, so (E, dim) temporaries dominate
        # the whole build if the chunk is big
        step = 1 << 16
        dim_ = v32.shape[1]
        buf_a = np.empty((step, dim_), dtype=np.float32)
        buf_b = np.empty((step, dim_), dtype=np.float32)
        for lo in range(0, len(ua), step):
            hi = min(lo + step, len(ua))
            m_ = hi - lo
            np.take(v32, ids[ua[lo:hi]], axis=0, out=buf_a[:m_])
            np.take(v32, ids[ub[lo:hi]], axis=0, out=buf_b[:m_])
            uds[lo:hi] = rowwise(buf_a[:m_], buf_b[:m_], metric, inplace=True)
        s2 = np.concatenate([ua, ub])
        d2 = np.concatenate([ub, ua])
        ds = np.concatenate([uds, uds])
        order = np.lexsort((d2, ds, s2))
        s2, d2 = s2[order], d2[order]
        starts = np.searchsorted(s2, np.arange(nn + 1))
        return [
            d2[starts[j] : min(starts[j + 1], starts[j] + cap)].tolist()
            for j in range(nn)
        ]

    def _links(v: np.ndarray, m: int) -> np.ndarray:
        # exact all-pairs below the threshold; clustered-candidate approx
        # above it (O(n * cell) — the difference between 250s and 5s at a
        # 64k-vector segment, r4 What's-wrong #4)
        if len(v) >= _APPROX_THRESHOLD:
            return _approx_knn_links(v, metric, m, seed)
        return _exact_knn_links(v, metric, m)

    # level 0: M0-NN graph over everyone, symmetrized
    l0 = _links(vecs, idx.M0)
    all_ids = np.arange(n)
    sym0 = _symmetrize(l0, all_ids, idx.M0 + M)
    for i in range(n):
        idx.links[i][0] = sym0[i]
    # upper levels: M-NN among nodes of level >= lv, symmetrized
    max_level = int(levels.max())
    for lv in range(1, max_level + 1):
        members = np.where(levels >= lv)[0]
        if len(members) < 2:
            break
        ml = _links(vecs[members], M)
        local = _symmetrize(ml, members, 2 * M)
        for j, i in enumerate(members):
            idx.links[i][lv] = [int(members[x]) for x in local[j]]
    # entry: the highest-level node, smallest label for determinism
    top = np.where(levels == max_level)[0]
    idx.entry = int(top[np.argmin(labels[top])])
    idx.max_level = max_level
    return idx
