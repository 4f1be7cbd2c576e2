"""Open-loop event generator: one process, one thread.

Builds the seeded schedule of :func:`data.stream_plan`, waits for the
benchmark to write the start time into ``--go``, then writes each tick's
events when they fall due, as parquet files made atomic by writing a
temporary name and renaming it. Every row carries ``due_ms``, the epoch
millisecond its tick was due; latency is measured from that stamp, not
from when the file appeared. When the schedule ends it writes a JSON report
of how late each tick's file landed.

Layouts (``--layout``):
  split    data/tNNNNNN.parquet (id, emb, event_time, ttl, op, due_ms) and
           queries/tNNNNNN.parquet (qid, emb, event_time, ttl, due_ms)
  unified  events/tNNNNNN.parquet (op, id, emb, event_time, ttl, due_ms),
           op 'Q' rows carrying the query id in ``id``
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import data  # noqa: E402


def write_atomic(table: pa.Table, path: str) -> None:
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _vectors(emb: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(emb, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, len(emb) * data.DIM + 1, data.DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def data_table(ids, ops, emb, event_time: int, due_ms: int) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "emb": _vectors(emb),
            "event_time": pa.array(np.full(n, event_time), pa.int64()),
            "ttl": pa.array(np.full(n, data.TTL_MS), pa.int64()),
            "op": pa.array(ops, pa.string()),
            "due_ms": pa.array(np.full(n, due_ms), pa.int64()),
        }
    )


def query_table(qids, emb, event_time: int, due_ms: int) -> pa.Table:
    n = len(qids)
    return pa.table(
        {
            "qid": pa.array(qids, pa.int64()),
            "emb": _vectors(emb),
            "event_time": pa.array(np.full(n, event_time), pa.int64()),
            "ttl": pa.array(np.full(n, data.TTL_MS), pa.int64()),
            "due_ms": pa.array(np.full(n, due_ms), pa.int64()),
        }
    )


def unified_table(tick: dict, plan: dict, event_time: int, due_ms: int) -> pa.Table:
    ins, dels, qids = tick["ins"], tick["dels"], tick["qids"]
    t = data_table(
        np.concatenate([ins, dels, qids]),
        ["I"] * len(ins) + ["D"] * len(dels) + ["Q"] * len(qids),
        np.concatenate([plan["emb"][ins], plan["emb"][dels], plan["q_emb"][qids]]),
        event_time,
        due_ms,
    )
    return t.select(["op", "id", "emb", "event_time", "ttl", "due_ms"])


def tick_event_time(tick: dict) -> int:
    """Engine event time of a tick: its due offset, shifted by one so it is
    strictly later than the prefill's event time 0."""
    return 1 + int(tick["offset_ms"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--layout", choices=("split", "unified"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--data-eps", type=int, required=True)
    ap.add_argument("--query-qps", type=int, required=True)
    ap.add_argument("--delete-share", type=float, required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    ap.add_argument("--prefill", type=int, required=True)
    ap.add_argument("--go", required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()

    plan = data.stream_plan(
        a.seed, a.seconds, a.data_eps, a.query_qps, a.delete_share, a.tick_ms, a.prefill
    )
    # one throwaway write first, so the first due tick does not pay the
    # parquet writer's first-call cost
    warm = a.report + ".warm.parquet"
    pq.write_table(query_table(np.arange(4), plan["q_emb"][:4], 0, 0), warm)
    os.remove(warm)
    with open(a.report + ".ready", "w") as f:
        f.write("ready\n")
    while not os.path.exists(a.go):
        time.sleep(0.005)
    with open(a.go) as f:
        t0 = int(f.read().strip())

    late = []
    for j, tick in enumerate(plan["ticks"]):
        due = t0 + int(tick["offset_ms"])
        wait = due / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        et = tick_event_time(tick)
        name = f"t{j:06d}.parquet"
        if a.layout == "split":  # queries last: their file marks the tick done
            ids = np.concatenate([tick["ins"], tick["dels"]])
            ops = ["I"] * len(tick["ins"]) + ["D"] * len(tick["dels"])
            write_atomic(
                data_table(ids, ops, plan["emb"][ids], et, due),
                os.path.join(a.out, "data", name),
            )
            write_atomic(
                query_table(tick["qids"], plan["q_emb"][tick["qids"]], et, due),
                os.path.join(a.out, "queries", name),
            )
        else:
            write_atomic(
                unified_table(tick, plan, et, due), os.path.join(a.out, "events", name)
            )
        late.append(time.time() * 1000.0 - due)
    with open(a.report + ".tmp", "w") as f:
        json.dump({"t0": t0, "late_ms": late, "end_ms": time.time() * 1000.0}, f)
    os.replace(a.report + ".tmp", a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
