"""Exact answers the engine's outputs are checked against (untimed).

Nothing here calls the engine: snapshots are rebuilt from the seeded
inputs or read straight from the files the engine wrote.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import numpy as np


def live_ids(ids: np.ndarray, ops: np.ndarray, event_times: np.ndarray) -> np.ndarray:
    """Last-writer-wins over insert/delete markers: an id is live when its
    newest marker is an insert (an insert wins a tie)."""
    if len(ids) == 0:
        return np.empty(0, dtype=np.int64)
    is_ins = (ops == "I").astype(np.int8)
    order = np.lexsort((is_ins, event_times, ids))
    sid, sins = ids[order], is_ins[order]
    last = np.append(sid[1:] != sid[:-1], True)
    return np.sort(sid[last & (sins == 1)])


def exact_topk(emb: np.ndarray, cand: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Ids of the k nearest candidates (squared L2, id tiebreak)."""
    v = emb[cand].astype(np.float64)
    d = ((v - q.astype(np.float64)) ** 2).sum(axis=1)
    return cand[np.lexsort((cand, d))[:k]]


def components(pairs: list[tuple[int, int]], ids: np.ndarray) -> dict[int, int]:
    """Union-find over ``pairs``: every id -> the smallest id in its
    connected component."""
    parent = {int(i): int(i) for i in ids}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def shingles(text: str, n: int = 3) -> set[str]:
    tk = text.strip().split(" ")
    if len(tk) < n:
        return {" ".join(tk)}
    return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}


def source_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from a file-stream checkpoint's source
    log (``sources/0/<batch>`` and its ``.compact`` roll-ups)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def batch_commits(progress: list[dict]) -> dict[int, dict]:
    """batch id -> {start, commit, trigger_ms, progress} from a streaming
    query's progress events. Commit = trigger start + triggerExecution."""
    out = {}
    for p in progress:
        dur = p.get("durationMs", {})
        if "triggerExecution" not in dur or p.get("numInputRows", 0) == 0:
            continue
        start = _epoch_ms(p["timestamp"])
        out[int(p["batchId"])] = {
            "start": start,
            "commit": start + float(dur["triggerExecution"]),
            "trigger_ms": float(dur["triggerExecution"]),
            "progress": p,
        }
    return out


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q)) if len(values) else 0.0
