"""Exact flat index — the kind for segments and partitions too small for a
graph or cells to pay for themselves.

A stream segment here is one micro-batch of a few hundred rows, where the
numpy HNSW loses to a plain scan on build time, search time and recall
(``tools/flat_crossover.py`` is the receipt; faiss gives the same rule: a
small index, or few searches per index, means a flat scan). The flat kind
keeps the rows as they are: its build is a sort by label, so a segment
needs no artifact at flush, and its search is one exact scan per batch
(``index.distance.exact_topk``), ties broken by (distance, label). Its
distances are the fold's, so they equal ``knn_exact`` and the DuckDB
oracles bit for bit.
"""

from __future__ import annotations

import numpy as np

from vstream_spark.index.base import SlotIndex
from vstream_spark.index.distance import exact_topk


class FlatIndex(SlotIndex):
    """Exact scan over float64 vectors; ``ef_search`` is ignored."""

    _STATE = ("vecs", "labels", "ts", "deleted")
    _SLOT_ARRAYS = ("vecs", "labels", "ts", "deleted")
    _AT_REST = {"vecs": np.float32}  # inputs are float32: lossless

    def __init__(self, dim: int, metric: str = "l2"):
        super().__init__(dim, metric)
        self.vecs = np.empty((0, dim), dtype=np.float64)

    def add_batch(self, vecs: np.ndarray, labels: np.ndarray, ts: np.ndarray) -> None:
        """Insert or upsert rows in order: a label already held, or repeated
        in the batch, keeps its last vector and time and is undeleted (the
        ``HnswIndex.add_point`` contract)."""
        labels = np.asarray(labels, dtype=np.int64)
        _, first_of_reversed = np.unique(labels[::-1], return_index=True)
        last = np.sort(len(labels) - 1 - first_of_reversed)
        vecs = np.asarray(vecs, dtype=np.float64)[last]
        labels, ts = labels[last], np.asarray(ts, dtype=np.int64)[last]
        s = self.slots(labels)
        held = s >= 0
        self.vecs[s[held]] = vecs[held]
        self.ts[s[held]] = ts[held]
        self.deleted[s[held]] = False
        new = ~held
        n = self.n
        self.vecs = np.concatenate([self.vecs[:n], vecs[new]])
        self.labels = np.concatenate([self.labels[:n], labels[new]])
        self.ts = np.concatenate([self.ts[:n], ts[new]])
        self.deleted = np.concatenate([self.deleted[:n], np.zeros(int(new.sum()), bool)])
        self._by_label.update(zip(labels[new].tolist(), range(n, n + int(new.sum()))))
        self.n = len(self.labels)

    # -- search ---------------------------------------------------------------

    def search(
        self,
        q: np.ndarray,
        k: int,
        ef_search: int | None = None,
        min_ts: int | None = None,
        allow: np.ndarray | None = None,
        max_ts: int | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k (labels, distances) ascending by (distance, label)
        over the live rows inside ``[min_ts, max_ts]`` and set in
        ``allow``."""
        (hit,) = self._scan(np.asarray(q)[None, :], k, min_ts, allow, max_ts)
        return hit

    def search_batch(
        self, qmat, k, ef_search=None, min_ts=None, allow_labels=None, max_ts=None
    ):
        """``search`` for every query at once: one scan and one fold
        re-score per batch. Bounds are scalars or per-query arrays."""
        allow = self.allow_mask(allow_labels) if allow_labels is not None else None
        return self._scan(qmat, k, min_ts, allow, max_ts)

    def _scan(self, qmat, k, min_ts, allow, max_ts):
        ok = self._eligibility(min_ts, allow, max_ts)
        if ok is None:
            ok = ~self.deleted[: self.n]
        return exact_topk(
            qmat, self.vecs[: self.n], self.labels[: self.n], k, self.metric, ok
        )


def build_flat(
    vecs: np.ndarray,
    labels: np.ndarray,
    ts: np.ndarray | None = None,
    metric: str = "l2",
) -> FlatIndex:
    """The flat index over a shard: its rows sorted by label."""
    order = np.argsort(labels, kind="stable")
    idx = FlatIndex(vecs.shape[1], metric)
    idx.vecs = np.ascontiguousarray(vecs[order], dtype=np.float64)
    idx.labels = np.asarray(labels, dtype=np.int64)[order]
    idx.ts = (
        np.asarray(ts, dtype=np.int64)[order]
        if ts is not None
        else np.zeros(len(order), dtype=np.int64)
    )
    idx.deleted = np.zeros(len(order), dtype=bool)
    idx._map_labels()
    return idx
