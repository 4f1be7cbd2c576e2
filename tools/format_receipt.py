"""Index and state format receipt: do artifacts written by one checkout
load and search identically in another?

``write DIR`` (run with the OLDER checkout first on ``PYTHONPATH``) builds
one segment as parquet (600 inserts plus 36 delete markers, half of them
ties the insert wins), its hnsw, ivf and pq sidecars for the l2 and ip
metrics through ``build_index_object``, and a ``stateful_search_fn`` state
blob from two batches; it records every search result. ``check DIR`` (run
with the NEWER checkout) loads those sidecars and the blob, repeats the
same searches and batch, and prints per kind and metric whether results
are identical (with and without a freshness bound apart), whether a
re-dump is byte-identical and whether its own fresh build is
byte-identical with the same pickled keys, and whether it equals the
recorded one in every field but the ``deleted`` flags (a build tombstones
nothing, so a build of a segment with delete markers can differ from an
older checkout's in those flags alone). For ip it also prints whether
every distance that differs is the recorded one plus exactly 1 (the
``-<a,b>`` to ``1 - <a,b>`` convention change) with the same labels.

Usage: PYTHONPATH=<old checkout> python tools/format_receipt.py write DIR
       PYTHONPATH=<new checkout> python tools/format_receipt.py check DIR
"""

from __future__ import annotations

import os
import pickle
import sys
from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from vstream_spark.config import VectorIndexConf
from vstream_spark.storage.segments import build_index_object
from vstream_spark.streaming.stateful import stateful_search_fn

N, DIM, K = 600, 16, 10
CONFS = {
    "hnsw": VectorIndexConf(dim=DIM, index_kind="hnsw"),
    "ivf": VectorIndexConf(dim=DIM, index_kind="ivf", nlist=8, nprobe=3),
    "pq": VectorIndexConf(dim=DIM, index_kind="pq", pq_m=4),
}

rng = np.random.RandomState(7)
VECS = rng.rand(N, DIM).astype(np.float32)
IDS = np.arange(N, dtype=np.int64) * 3
ETS = np.arange(N, dtype=np.int64) * 10
DELS = IDS[::17]
DEL_TS = ETS[::17] + np.where(np.arange(len(DELS)) % 2 == 0, 5, 0)
QUERIES = rng.rand(12, DIM)


def write_segment(seg_dir: str) -> None:
    os.makedirs(seg_dir, exist_ok=True)
    tbl = pa.table({
        "id": np.concatenate([IDS, DELS]),
        "emb": [v.tolist() for v in VECS] + [VECS[0].tolist()] * len(DELS),
        "event_time": np.concatenate([ETS, DEL_TS]),
        "op": ["I"] * N + ["D"] * len(DELS),
    })
    pq.write_table(tbl, os.path.join(seg_dir, "part-0.parquet"))


MIN_TS = (None, 2000, np.arange(len(QUERIES)) * 300)
METRICS = ("l2", "ip")


def searches(idx) -> list:
    """Results in (min_ts, allow, query) order: the first 2 * len(QUERIES)
    have no freshness bound."""
    out = []
    for min_ts in MIN_TS:
        for allow in (None, IDS[::2]):
            for lbs, ds in idx.search_batch(QUERIES, K, 16, min_ts, allow_labels=allow):
                out.append((lbs.tolist(), ds.tolist()))
    return out


def shifted_by_one(got: list, want: list) -> bool:
    """Same labels, and every distance either equal to the recorded one or
    to the recorded one plus 1.0, in float64."""
    return all(
        g[0] == w[0] and all(a in (b, 1.0 + b) for a, b in zip(g[1], w[1]))
        for g, w in zip(got, want)
    )


def compare(got: list, want: list) -> str:
    """Identical results, split by whether a freshness bound applied; a
    bounded result that differs is counted by whether it holds more hits
    than the recorded one (hnsw applies the bound inside its walk since
    the flat kind landed, so a bound no longer leaves its results short)."""
    cut = 2 * len(QUERIES)
    diff = [(g, w) for g, w in zip(got[cut:], want[cut:]) if g != w]
    return (
        f"unbounded identical={got[:cut] == want[:cut]}, "
        f"bounded identical {len(want) - cut - len(diff)}/{len(want) - cut} "
        f"(of the rest: {sum(len(g[0]) > len(w[0]) for g, w in diff)} fuller, "
        f"{sum(len(g[0]) < len(w[0]) for g, w in diff)} shorter)"
    )


def same_but_deleted(a: bytes, b: bytes) -> bool:
    """Whether two index dumps hold the same fields, byte for byte, apart
    from the ``deleted`` tombstone flags."""
    da, db = pickle.loads(a), pickle.loads(b)
    return list(da) == list(db) and all(
        pickle.dumps(da[f]) == pickle.dumps(db[f]) for f in da if f != "deleted"
    )


class _State:
    """The slice of pyspark's GroupState that stateful_search_fn uses."""

    def __init__(self, blob=None):
        self.blob = blob

    @property
    def exists(self):
        return self.blob is not None

    @property
    def get(self):
        return (self.blob,)

    def update(self, value):
        self.blob = value[0]


def batch(lo: int, hi: int, q_time: int) -> pd.DataFrame:
    rows = [(int(IDS[i]), VECS[i].tolist(), int(ETS[i]), None, "I") for i in range(lo, hi)]
    rows += [(int(x), None, int(t) + 1, None, "D") for x, t in zip(IDS[lo:hi:7], ETS[lo:hi:7])]
    rows += [(10**6 + j, q.tolist(), q_time, 3000, "Q") for j, q in enumerate(QUERIES)]
    return pd.DataFrame(rows, columns=["id", "emb", "event_time", "ttl", "op"])


def run_stateful(blob, lo, hi, q_time):
    state = _State(blob)
    fn = stateful_search_fn(VectorIndexConf(dim=DIM), k=K)
    out = list(fn((0,), iter([batch(lo, hi, q_time)]), state))
    return (pd.concat(out).to_dict("list") if out else {}), state.blob


def main() -> None:
    mode, out_dir = sys.argv[1], sys.argv[2]
    seg = {"id": "seg-receipt", "path": os.path.join(out_dir, "seg"), "count": N + len(DELS)}
    rec_path = os.path.join(out_dir, "results.pkl")
    if mode == "write":
        write_segment(seg["path"])
        rec = {}
        for metric in METRICS:
            for kind, conf in CONFS.items():
                _, idx = build_index_object(seg, replace(conf, metric=metric))
                blob = idx.dumps()
                with open(os.path.join(out_dir, f"_{kind}-{metric}.idx"), "wb") as f:
                    f.write(blob)
                rec[kind, metric] = searches(type(idx).loads(blob))
        _, first = run_stateful(None, 0, N // 2, 3000)
        with open(os.path.join(out_dir, "state.blob"), "wb") as f:
            f.write(first)
        rec["stateful"] = run_stateful(first, N // 2, N, 6000)
        with open(rec_path, "wb") as f:
            pickle.dump(rec, f)
        print("wrote", sorted(os.listdir(out_dir)))
        return
    from vstream_spark.index import KINDS

    with open(rec_path, "rb") as f:
        rec = pickle.load(f)
    for metric in METRICS:
        for kind, conf in CONFS.items():
            with open(os.path.join(out_dir, f"_{kind}-{metric}.idx"), "rb") as f:
                blob = f.read()
            idx = KINDS[kind].cls.loads(blob)
            _, fresh = build_index_object(seg, replace(conf, metric=metric))
            got = searches(idx)
            shift = (
                f", every moved distance +1 with the same labels="
                f"{shifted_by_one(got, rec[kind, metric])}"
                if metric == "ip" else ""
            )
            print(
                f"{kind} {metric}: searches {compare(got, rec[kind, metric])}{shift}, "
                f"re-dump byte-identical={idx.dumps() == blob}, "
                f"fresh build byte-identical={fresh.dumps() == blob}, "
                f"keys same={list(pickle.loads(blob)) == list(pickle.loads(fresh.dumps()))}, "
                f"fresh build same but deleted flags={same_but_deleted(fresh.dumps(), blob)} "
                f"(deleted {int(fresh.deleted[: fresh.n].sum())} fresh, "
                f"{int(idx.deleted[: idx.n].sum())} recorded)"
            )
    with open(os.path.join(out_dir, "state.blob"), "rb") as f:
        first = f.read()
    rows, nxt = run_stateful(first, N // 2, N, 6000)
    want_rows, want_next = rec["stateful"]
    per_q = [pd.Series(r.get("qid", [])).value_counts() for r in (rows, want_rows)]
    same = rows.get("neighbor_id") == want_rows.get("neighbor_id")
    gap = np.abs(np.subtract(rows["distance"], want_rows["distance"])).max() if same and rows else 0.0
    print(
        f"stateful: rows identical={rows == want_rows} "
        f"(neighbors identical={same}, largest distance difference {gap:.3g}; "
        f"{len(rows.get('qid', []))} rows, {len(want_rows.get('qid', []))} recorded; "
        f"queries with fewer hits than recorded: "
        f"{int((per_q[0].reindex(per_q[1].index, fill_value=0) < per_q[1]).sum())}), "
        f"next blob byte-identical={nxt == want_next}"
    )


if __name__ == "__main__":
    main()
