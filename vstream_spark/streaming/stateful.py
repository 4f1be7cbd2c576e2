"""Stateful streaming vector search — the reference's core dataflow as one
Structured Streaming operator with one worker.

``VStreamSearchJob`` (SURVEY §3.1) keys a mixed insert/delete/query stream by
``partition_id`` and holds a mutable per-partition index in keyed state
(``RocksDBKeyedProcessFunction.processElement:149-180`` dispatching on
element type). The Spark-native equivalent is
``groupBy(partition_id).applyInPandasWithState`` over
:func:`stateful_search_fn`. Its state is the serialized per-partition index:
an exact flat scan under 'auto' or 'flat' (bitwise equal to ``knn_exact``),
a numpy HNSW graph where the caller names 'hnsw', at ``conf.metric`` and
``conf.dim``, the collection's (``vector_options.h:24-53``): a checkpoint or
a stream vector that disagrees raises. Each micro-batch:

* applies its inserts (W1) and deletes (W2) last-writer-wins by event
  time: a delete strictly newer than the version held kills it, the
  insert wins a tie, and a stale delete or stale upsert, in this batch or
  a later one, loses. A delete of an id the partition does not hold yet
  is remembered as a tombstoned slot; a tombstoned slot's ``ts`` holds
  its delete time, so a later stale insert still loses to it;
* then answers the batch's queries (W3) over the window
  ``[event_time - ttl, event_time]`` (``FilterSeqTs``; no ttl, no lower
  bound): an insert with a later event time than the query, even in the
  same batch, is not seen.

The result is independent of how the markers were batched: a query sees
every I/D that arrived in or before its micro-batch.

This is the in-state-graph alternative to the segment-append path
(``streaming/pipeline.py`` + ``storage/search.py``). SURVEY §7 flags state
size as the trade-off: per-partition indexes must fit the state store, so the
segment path remains the default at 100 TB scale; this operator is the
low-latency small-state variant (the reference's in-memory hnswlib mode,
``HnswLibKeyedProcessFunction.java:19-101``).

Input schema (one unified stream, PartitionedElement analog):
  partition_id INT, op STRING ('I'/'D'/'Q'), id BIGINT, emb ARRAY<FLOAT>,
  event_time BIGINT, ttl BIGINT
Output: qid BIGINT, neighbor_id BIGINT, distance DOUBLE, partition_id INT
(per-partition partials — compose with ``operators.knn.topk`` for the global
M1 merge).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from vstream_spark.config import VectorIndexConf

OUTPUT_SCHEMA = (
    "qid BIGINT, neighbor_id BIGINT, distance DOUBLE, partition_id INT"
)
STATE_SCHEMA = "graph BINARY"


def _newest(ids: np.ndarray, ts: np.ndarray, rows: np.ndarray) -> np.ndarray:
    """Of ``rows``, each id's newest by event time (of equal times the
    later arrival), in arrival order."""
    by_id = rows[np.lexsort((ts[rows], ids[rows]))]
    last = np.ones(len(by_id), dtype=bool)
    last[:-1] = ids[by_id][1:] != ids[by_id][:-1]
    return np.sort(by_id[last])


def _newer(idx, ids: np.ndarray, ts: np.ndarray, strict: bool) -> np.ndarray:
    """Mask of the markers newer than the version ``idx`` holds of their
    id (any marker is newer than none)."""
    s = idx.slots(ids)
    held = s >= 0
    out = ~held
    out[held] = ts[held] > idx.ts[s[held]] if strict else ts[held] >= idx.ts[s[held]]
    return out


def _stack(embs, dim: int) -> np.ndarray:
    """A batch's vectors as one matrix, ``dim`` (the conf's) wide."""
    mat = np.stack(embs)
    if mat.shape[1] != dim:
        raise ValueError(f"stream vectors are {mat.shape[1]}-d, but VectorIndexConf.dim is {dim}")
    return mat


def _apply_markers(idx, data: pd.DataFrame) -> None:
    """Apply a batch's I/D rows, sorted by (event_time, id), to ``idx``
    last-writer-wins (module docstring): first each id's newest insert,
    over a version at most as new; then each id's newest delete, over a
    strictly older version, so the insert wins a tie."""
    ids = data["id"].to_numpy(np.int64)
    ts = data["event_time"].to_numpy(np.int64)
    ins = (data["op"] == "I").to_numpy()
    embs = data["emb"].to_numpy()
    put = _newest(ids, ts, np.flatnonzero(ins))
    put = put[_newer(idx, ids[put], ts[put], strict=False)]
    if len(put):
        idx.add_batch(_stack(embs[put], idx.dim).astype(np.float32), ids[put], ts[put])
    gone = _newest(ids, ts, np.flatnonzero(~ins))
    gone = gone[_newer(idx, ids[gone], ts[gone], strict=True)]
    new = gone[idx.slots(ids[gone]) < 0]
    if len(new):
        # a delete of an id not held yet takes a slot (its own vector when
        # the marker carries one) so the delete time is remembered
        idx.add_batch(
            _stack([
                np.asarray(e, dtype=np.float32) if hasattr(e, "__len__")
                else np.zeros(idx.dim, dtype=np.float32)
                for e in embs[new]
            ], idx.dim),
            ids[new],
            ts[new],
        )
    s = idx.slots(ids[gone])
    idx.deleted[s] = True
    idx.ts[s] = ts[gone]


def stateful_search_fn(conf: VectorIndexConf, k: int):
    """Build the (key, batches, state) -> batches function for
    applyInPandasWithState.

    The state is one pickled index at ``conf.metric``. Under 'auto' or
    'flat' it is an exact ``FlatIndex`` at every size:
    ``auto_ivf_threshold`` was measured on one-off builds, not on a
    partition that takes a few inserts and queries per trigger, so it does
    not apply here. 'hnsw' keeps an HNSW, the one indexed kind that takes
    inserts one by one; 'ivf' and 'pq' raise here, on the driver. A state
    blob that already holds an HNSW stays one, so checkpoints written
    before the flat kind existed keep working."""
    if conf.index_kind not in ("auto", "flat", "hnsw"):
        raise ValueError(f"the worker holds 'auto', 'flat' or 'hnsw', got {conf.index_kind!r}")

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from vstream_spark.index import FlatIndex, loads
        from vstream_spark.index.hnsw import HnswIndex

        (pid,) = key
        if state.exists:
            (blob,) = state.get
            idx = loads(bytes(blob))
            if (idx.metric, idx.dim) != (conf.metric, conf.dim):
                raise ValueError(
                    f"partition {pid} state holds a {idx.dim}-d {idx.metric!r} index, "
                    f"but the conf is {conf.dim}-d {conf.metric!r}"
                )
        elif conf.index_kind == "hnsw":
            idx = HnswIndex(
                conf.dim, conf.metric, conf.m, conf.ef_construction, seed=42
            )
        else:
            idx = FlatIndex(conf.dim, conf.metric)
        out = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # deterministic replay order: event_time, then id (task retries
            # of the same micro-batch rebuild identical state)
            pdf = pdf.sort_values(["event_time", "id"], kind="stable")
            data = pdf[pdf["op"] != "Q"]
            if len(data):
                _apply_markers(idx, data)
            qs = pdf[pdf["op"] == "Q"]
            if len(qs) == 0:
                continue
            # per-query window [event_time - ttl, event_time]; no ttl, no
            # lower bound
            qet = qs["event_time"].to_numpy(np.int64)
            ttl = pd.to_numeric(qs["ttl"])
            min_ts = np.where(
                ttl.isna(), np.iinfo(np.int64).min, qet - ttl.fillna(0).to_numpy(np.int64)
            )
            res = idx.search_batch(
                _stack(qs["emb"].to_numpy(), idx.dim).astype(np.float64),
                k, max(conf.ef_search, k), min_ts, max_ts=qet,
            )
            lens = [len(lbs) for lbs, _ in res]
            if sum(lens):
                out.append(
                    pd.DataFrame(
                        {
                            "qid": np.repeat(qs["id"].to_numpy(np.int64), lens),
                            "neighbor_id": np.concatenate([lbs for lbs, _ in res]),
                            "distance": np.concatenate([ds for _, ds in res]),
                            "partition_id": int(pid),
                        }
                    )
                )
        state.update((idx.dumps(),))
        if out:
            yield pd.concat(out)

    return fn


def stateful_vector_search(
    stream: DataFrame,
    conf: VectorIndexConf,
    k: int = 10,
) -> DataFrame:
    """Wire the stateful worker over a partitioned element stream."""
    return stream.groupBy("partition_id").applyInPandasWithState(
        stateful_search_fn(conf, k),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
