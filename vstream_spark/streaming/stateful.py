"""Stateful streaming vector search — the reference's core dataflow as one
Structured Streaming operator.

``VStreamSearchJob`` (SURVEY §3.1) keys a mixed insert/delete/query stream by
``partition_id`` and holds a mutable per-partition HNSW index in keyed state
(``RocksDBKeyedProcessFunction.processElement:149-180`` dispatching on
element type). The Spark-native equivalent is
``groupBy(partition_id).applyInPandasWithState``: state = the serialized
per-partition index (an exact flat scan under the default 'auto', a numpy
HNSW graph where the caller names 'hnsw'); each micro-batch applies inserts (W1),
tombstones deletes (W2), then answers the batch's queries against the
updated index (W3) with the freshness filter.

This is the in-state-graph alternative to the segment-append path
(``streaming/pipeline.py`` + ``storage/search.py``). SURVEY §7 flags state
size as the trade-off: per-partition graphs must fit the state store, so the
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


def stateful_search_fn(conf: VectorIndexConf, k: int, metric: str = "l2"):
    """Build the (key, batches, state) -> batches function for
    applyInPandasWithState.

    The state is one pickled index. Under 'auto' or 'flat' it is an exact
    ``FlatIndex`` at every size: ``auto_ivf_threshold`` was measured on
    one-off builds, not on a partition that takes a few inserts and
    queries per trigger, so it does not apply here. Any other kind keeps an
    HNSW, the one kind that takes inserts one by one, and a state blob that
    already holds an HNSW stays one, so checkpoints written before the flat
    kind existed keep working."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        from vstream_spark.index import FlatIndex, loads
        from vstream_spark.index.hnsw import HnswIndex

        (pid,) = key
        if state.exists:
            (blob,) = state.get
            idx = loads(bytes(blob))
        elif conf.index_kind in ("auto", "flat"):
            idx = FlatIndex(conf.dim, metric)
        else:
            idx = HnswIndex(
                conf.dim, metric, conf.m, conf.ef_construction, seed=42
            )
        out = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # deterministic replay order: event_time, then id (task retries
            # of the same micro-batch rebuild identical state)
            pdf = pdf.sort_values(["event_time", "id"], kind="stable")
            ins = pdf[pdf["op"] == "I"]
            if isinstance(idx, FlatIndex):
                if len(ins):
                    idx.add_batch(
                        np.stack(ins["emb"].to_numpy()).astype(np.float32),
                        ins["id"].to_numpy(np.int64),
                        ins["event_time"].to_numpy(np.int64),
                    )
            else:
                for _id, emb, et in zip(ins["id"], ins["emb"], ins["event_time"]):
                    idx.add_point(np.asarray(emb, dtype=np.float32), int(_id), int(et))
            for _id in pdf[pdf["op"] == "D"]["id"]:
                idx.mark_delete(int(_id))
            qs = pdf[pdf["op"] == "Q"]
            if len(qs) == 0:
                continue
            # per-query freshness bound event_time - ttl; no ttl, no bound
            ttl = pd.to_numeric(qs["ttl"])
            min_ts = np.where(
                ttl.isna(),
                np.iinfo(np.int64).min,
                qs["event_time"].to_numpy(np.int64) - ttl.fillna(0).to_numpy(np.int64),
            )
            res = idx.search_batch(
                np.stack(qs["emb"].to_numpy()).astype(np.float64),
                k, max(conf.ef_search, k), min_ts,
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
    metric: str = "l2",
) -> DataFrame:
    """Wire the stateful worker over a partitioned element stream."""
    return stream.groupBy("partition_id").applyInPandasWithState(
        stateful_search_fn(conf, k, metric),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_exact_search_fn(k: int, metric: str = "l2"):
    """Exact-mode stateful worker (the reference's brute/exact search path,
    deterministic — used by the ``knn_streaming`` oracle query).

    State = the partition's accumulated insert/delete MARKERS (not a graph):
    ids, float32 embeddings, event_times, op flags. Each query resolves
    last-writer-wins liveness (insert survives an equal-event_time delete,
    ``performLocalDeletes:86-96``) + the TTL freshness window over the marker
    set, then scans exactly. Distances fold per-dimension in float64 — the
    same left-to-right order as the JVM ``aggregate`` / DuckDB ``list_sum``
    oracle, so results are bitwise-comparable.

    Marker-set semantics make the result independent of how markers were
    batched (any I/D arriving in or before the query's micro-batch is seen);
    only queries are answered in their arrival batch.
    """
    import pickle

    if metric not in ("l2", "ip", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (pid,) = key
        if state.exists:
            (blob,) = state.get
            ids, embs, ets, is_ins = pickle.loads(bytes(blob))
        else:
            ids = np.empty(0, dtype=np.int64)
            embs = np.empty((0, 0), dtype=np.float32)
            ets = np.empty(0, dtype=np.int64)
            is_ins = np.empty(0, dtype=bool)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            data = pdf[pdf["op"] != "Q"]
            if len(data):
                new_ids = data["id"].to_numpy(np.int64)
                new_ins = (data["op"] == "I").to_numpy()
                new_ets = data["event_time"].to_numpy(np.int64)
                # delete markers carry a null emb (None/NaN through Arrow);
                # stand in a zero vector — LWW resolution never reads it
                dims = [len(e) for e in data["emb"] if hasattr(e, "__len__")]
                dim = dims[0] if dims else (embs.shape[1] if embs.ndim == 2 else 0)
                new_embs = np.stack(
                    [
                        np.asarray(e, dtype=np.float32)
                        if hasattr(e, "__len__")
                        else np.zeros(dim, np.float32)
                        for e in data["emb"]
                    ]
                )
                if embs.size == 0 and new_embs.size:
                    embs = np.empty((0, new_embs.shape[1]), dtype=np.float32)
                ids = np.concatenate([ids, new_ids])
                embs = np.concatenate([embs, new_embs])
                ets = np.concatenate([ets, new_ets])
                is_ins = np.concatenate([is_ins, new_ins])
            qs = pdf[pdf["op"] == "Q"]
            if len(qs) == 0:
                continue
            # LWW resolve: last marker per id by (event_time, insert-wins-tie)
            order = np.lexsort((is_ins.astype(np.int8), ets, ids))
            sid, set_, sins, semb = ids[order], ets[order], is_ins[order], embs[order]
            last = np.append(sid[1:] != sid[:-1], True)
            live = last & sins
            lid, let_, lemb = sid[live], set_[live], semb[live].astype(np.float64)
            out = []
            for qid, emb, qet, qttl in zip(
                qs["id"], qs["emb"], qs["event_time"], qs["ttl"]
            ):
                lo = int(qet) - int(qttl)
                m = (let_ >= lo) & (let_ <= int(qet))
                cid, cemb = lid[m], lemb[m]
                if len(cid) == 0:
                    continue
                q64 = np.asarray(emb, dtype=np.float32).astype(np.float64)
                acc = np.zeros(len(cid), dtype=np.float64)
                if metric == "l2":
                    for d in range(cemb.shape[1]):
                        diff = q64[d] - cemb[:, d]
                        acc += diff * diff
                else:  # ip / cosine share the dot fold
                    for d in range(cemb.shape[1]):
                        acc += q64[d] * cemb[:, d]
                    if metric == "ip":
                        acc = 1.0 - acc
                    else:
                        qn = 0.0
                        for d in range(len(q64)):
                            qn += q64[d] * q64[d]
                        vn = np.zeros(len(cid), dtype=np.float64)
                        for d in range(cemb.shape[1]):
                            vn += cemb[:, d] * cemb[:, d]
                        denom = np.sqrt(qn) * np.sqrt(vn)
                        with np.errstate(divide="ignore", invalid="ignore"):
                            acc = 1.0 - np.where(denom != 0.0, acc / denom, 0.0)
                top = np.lexsort((cid, acc))[:k]
                out.append(
                    pd.DataFrame(
                        {
                            "qid": int(qid),
                            "neighbor_id": cid[top],
                            "distance": acc[top],
                            "partition_id": int(pid),
                        }
                    )
                )
            if out:
                yield pd.concat(out)
        state.update((pickle.dumps((ids, embs, ets, is_ins)),))

    return fn


def stateful_exact_vector_search(
    stream: DataFrame, k: int = 10, metric: str = "l2"
) -> DataFrame:
    """Exact stateful search over a partitioned element stream. Compose with
    ``operators.knn.topk`` (dedup=False when data ids are unreplicated) for
    the global M1 merge — with every query fanned to all partitions the
    result equals batch ``knn_exact`` with deletes+TTL."""
    return stream.groupBy("partition_id").applyInPandasWithState(
        stateful_exact_search_fn(k, metric),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
