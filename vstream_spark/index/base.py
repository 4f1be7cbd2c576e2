"""The worker surface every index kind shares.

The reference builds one index artifact per SST at flush (C3,
``hnsw_table_builder.cc``) and loads it at search (C4,
``hnsw_table_reader.cc``) behind one worker surface (SURVEY §2.6). Here each
kind (``flat``, ``hnsw``, ``ivf``, ``pq``) subclasses :class:`SlotIndex` and adds only
its build and its single-query ``search``. The base owns the rest:

* slot bookkeeping: per slot a ``label`` (row id), an event time ``ts``
  (the ``min_ts``/``max_ts`` window, ``FilterSeqTs``) and a ``deleted``
  tombstone (W2), plus the label -> slot map;
* the eligibility mask and the batch search loop, with one hook for state
  a kind hoists per batch;
* pickle persistence of the fields each kind declares.
"""

from __future__ import annotations

import pickle
from itertools import repeat

import numpy as np

from vstream_spark.config import SUPPORTED_METRICS

_TS_MISSING = object()  # get_ts sentinel: "no default given"


def _as_label_array(allow_labels) -> np.ndarray:
    """Allowlist in any shape (ndarray / list / set) -> int64 array without
    a Python-object round trip for the common ndarray case."""
    if isinstance(allow_labels, np.ndarray):
        return allow_labels.astype(np.int64, copy=False)
    if isinstance(allow_labels, (set, frozenset)):
        return np.fromiter(allow_labels, dtype=np.int64, count=len(allow_labels))
    return np.asarray(list(allow_labels), dtype=np.int64)


def _at(bound, j: int):
    """Query ``j``'s value of a scalar or per-query bound."""
    if bound is None:
        return None
    return int(bound[j]) if np.ndim(bound) else int(bound)


class SlotIndex:
    """Slot bookkeeping, batch search and persistence for one index kind.

    A kind implements ``search(q, k, ef_search, min_ts, allow)``: top-k
    (labels, distances) for one query, ascending by (distance, label),
    over the slots that are not deleted, not older than ``min_ts`` and set
    in the ``allow`` slot mask. The two kinds the stateful worker holds,
    flat and hnsw, also take ``max_ts``, the window's upper end. Distances
    follow ``index.distance``.

    A kind declares its pickled dict: ``_CTOR`` are its constructor
    arguments in order, ``_STATE`` the rest, and the dict's keys are
    ``_CTOR + _STATE`` in that order. Sidecars and state blobs already on
    disk load only while those keys, their order and their dtypes stay.
    """

    _CTOR: tuple[str, ...] = ("dim", "metric")
    _STATE: tuple[str, ...] = ("labels", "ts", "deleted")
    # arrays with one row per slot: a kind that grows them past ``n``
    # (hnsw's incremental inserts) lists its payload here too, so only the
    # ``n`` filled slots are persisted
    _SLOT_ARRAYS: tuple[str, ...] = ("labels", "ts", "deleted")
    # fields persisted at a smaller dtype: {field: dtype at rest}; loads
    # casts back to the dtype the constructor allocates
    _AT_REST: dict = {}

    def __init__(self, dim: int, metric: str, capacity: int = 0):
        if metric not in SUPPORTED_METRICS:
            raise ValueError(f"metric must be one of {sorted(SUPPORTED_METRICS)}")
        self.dim = dim
        self.metric = metric
        self.labels = np.empty(capacity, dtype=np.int64)
        self.ts = np.empty(capacity, dtype=np.int64)
        self.deleted = np.zeros(capacity, dtype=bool)
        self.n = 0
        self._by_label: dict[int, int] = {}

    def _map_labels(self) -> None:
        """Index a built or loaded layout, in which every slot is filled.
        A label stored twice maps to its last slot."""
        self.n = len(self.labels)
        self._by_label = {int(lb): i for i, lb in enumerate(self.labels)}

    # -- slots ----------------------------------------------------------------

    def mark_delete(self, label: int) -> bool:
        """Tombstone a label (hnswlib markDelete analog). A graph node keeps
        routing traffic; every kind filters it from results."""
        i = self._by_label.get(label)
        if i is None:
            return False
        self.deleted[i] = True
        return True

    def get_ts(self, label: int, default=_TS_MISSING):
        """Event-time of a label.
        Returns ``default`` for unknown labels when given, else KeyError."""
        slot = self._by_label.get(int(label))
        if slot is None:
            if default is _TS_MISSING:
                raise KeyError(label)
            return default
        return int(self.ts[slot])

    def slots(self, labels) -> np.ndarray:
        """Slot of each label, -1 where the index does not hold it — one
        C-level pass over the label map, no per-label Python frame."""
        lbs = np.asarray(labels, dtype=np.int64).tolist()
        return np.fromiter(
            map(self._by_label.get, lbs, repeat(-1)), dtype=np.int64, count=len(lbs)
        )

    def ts_of(self, labels) -> np.ndarray:
        """Event-times of ``labels``, each of which the index must hold
        (KeyError otherwise) — ``get_ts`` over an array."""
        s = self.slots(labels)
        if (s < 0).any():
            raise KeyError(int(np.asarray(labels)[s < 0][0]))
        return self.ts[s]

    def allow_mask(self, allow_labels) -> np.ndarray:
        """Label collection -> bool mask over the filled slots, the in-index
        attribute filter every kind's ``search`` takes as ``allow``."""
        return np.isin(self.labels[: self.n], _as_label_array(allow_labels))

    # -- search ---------------------------------------------------------------

    def _eligibility(self, min_ts=None, allow=None, max_ts=None):
        """Mask of the slots a search may return: not tombstoned, set in the
        ``allow`` slot mask and inside ``[min_ts, max_ts]`` (the
        ``FilterSeqTs`` window; a bound is a scalar, or an array with one
        per query, which makes the mask one row per query). None when no
        bound and no allowlist applies."""
        if allow is None and min_ts is None and max_ts is None:
            return None
        ts = self.ts[: self.n]
        ok = ~self.deleted[: self.n]
        if allow is not None:
            ok = ok & allow
        if min_ts is not None:
            ok = ok & (ts >= np.asarray(min_ts, dtype=np.int64)[..., None])
        if max_ts is not None:
            ok = ok & (ts <= np.asarray(max_ts, dtype=np.int64)[..., None])
        return ok

    def _batch_kwargs(self, min_ts, allow, max_ts) -> dict:
        """Extra ``search`` arguments computed once per batch (hnsw hoists
        its eligibility mask); the scans (ivf, pq) need none."""
        return {}

    def search_batch(
        self,
        qmat: np.ndarray,
        k: int,
        ef_search: int | None = None,
        min_ts=None,
        allow_labels=None,
        max_ts=None,
    ):
        """Batched search: (qids-aligned) list of (labels, distances).
        ``min_ts`` and ``max_ts`` are each a scalar or a per-query array
        (a per-query TTL window; only the kinds that take ``max_ts`` in
        ``search``, flat and hnsw, accept it); ``allow_labels`` (optional
        label collection) applies in-index to every query in the batch,
        its slot mask built once."""
        allow = self.allow_mask(allow_labels) if allow_labels is not None else None
        extra = self._batch_kwargs(min_ts, allow, max_ts)
        out = []
        for j in range(qmat.shape[0]):
            bounds = {"min_ts": _at(min_ts, j)}
            if max_ts is not None:
                bounds["max_ts"] = _at(max_ts, j)
            out.append(self.search(qmat[j], k, ef_search, allow=allow, **bounds, **extra))
        return out

    # -- persistence (C3/C4 analog: segment index artifact) -------------------

    def dumps(self) -> bytes:
        d = {f: getattr(self, f) for f in self._CTOR}
        for f in self._STATE:
            v = getattr(self, f)
            if f in self._SLOT_ARRAYS:
                v = v[: self.n]
            if f in self._AT_REST:
                v = v.astype(self._AT_REST[f])
            d[f] = v
        return pickle.dumps(d, protocol=4)

    @classmethod
    def loads(cls, data: bytes):
        return cls.from_fields(pickle.loads(data))

    @classmethod
    def from_fields(cls, d: dict):
        """The index a ``dumps`` dict describes."""
        idx = cls(*(d[f] for f in cls._CTOR))
        for f in cls._STATE:
            v = d[f]
            if f in cls._AT_REST:
                v = v.astype(getattr(idx, f).dtype)
            setattr(idx, f, v)
        idx._map_labels()
        return idx
