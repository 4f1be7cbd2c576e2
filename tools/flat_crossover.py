"""Where does an index pay for itself? Build and search cost, and recall,
of the flat, hnsw and ivf kinds at growing shard sizes — the receipt
behind ``resolve_index_kind``'s 'auto' rule.

Numpy only, no Spark. For each size it builds every kind through
``index.build_from_conf`` with the engine's default parameters (HNSW
M=16, efConstruction=128, efSearch=16; IVF nlist ~sqrt(n), nprobe=8),
searches 250 queries at k=10 through ``search_batch`` (the median of five
passes), and scores recall@10
against a brute-force top-10. Vectors are 128-d from a Gaussian mixture
(32 components with 16-d local structure, the shape of perfbench's
stream); queries are drawn from the same mixture.

Usage: OPENBLAS_NUM_THREADS=1 python tools/flat_crossover.py [SIZES...]
(one BLAS thread, as in a Spark Python worker; default sizes 250 1024
4096 16384 65536). Prints one line per (size, kind), which sizes flat
wins at against each index on build ms, search ms and recall at once, and
the largest size up to which it wins against ivf, the kind 'auto' takes
above the bound: the default of ``VectorIndexConf.auto_ivf_threshold``.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from vstream_spark.config import VectorIndexConf
from vstream_spark.index import build_from_conf

DIM, K, QUERIES = 128, 10, 250
REPEATS = 5  # search ms is the median of this many passes over the queries
KINDS = ("flat", "hnsw", "ivf")


def mixture(rng: np.random.RandomState, n: int) -> np.ndarray:
    centers = np.random.RandomState(0).normal(0.0, 0.35, size=(32, DIM))
    basis = np.random.RandomState(1).normal(0.0, 1.0 / np.sqrt(DIM), size=(32, 16, DIM))
    comp = rng.randint(0, 32, n)
    local = rng.normal(0.0, 1.0, size=(n, 16))
    out = centers[comp] + np.einsum("nl,nld->nd", local, basis[comp])
    return (out + rng.normal(0.0, 0.05, size=(n, DIM))).astype(np.float32)


def exact_top(vecs: np.ndarray, qmat: np.ndarray) -> list[set]:
    out = []
    v = vecs.astype(np.float64)
    for q in qmat:
        d = ((v - q) ** 2).sum(axis=1)
        out.append(set(np.argsort(d, kind="stable")[:K].tolist()))
    return out


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [250, 1024, 4096, 16384, 65536]
    print(
        f"# {DIM}-d mixture, {QUERIES} queries, k={K}, "
        f"OPENBLAS_NUM_THREADS={os.environ.get('OPENBLAS_NUM_THREADS', 'unset')}, "
        f"{os.cpu_count()} cpus"
    )
    print(f"{'rows':>6} {'kind':>5} {'build_ms':>9} {'search_ms':>9} {'recall':>7}")
    flat_wins = []
    for n in sizes:
        rng = np.random.RandomState(n)
        vecs = mixture(rng, n)
        qmat = mixture(rng, QUERIES).astype(np.float64)
        ids = np.arange(n, dtype=np.int64)
        truth = exact_top(vecs, qmat)
        row = {}
        for kind in KINDS:
            conf = VectorIndexConf(dim=DIM, index_kind=kind)
            t0 = time.perf_counter()
            _, idx = build_from_conf(vecs, ids, conf, ts=ids)
            build_ms = (time.perf_counter() - t0) * 1e3
            search_ms = []
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                res = idx.search_batch(qmat, K, conf.ef_search)
                search_ms.append((time.perf_counter() - t0) * 1e3)
            recall = np.mean([len(set(lb.tolist()) & t) / K for (lb, _), t in zip(res, truth)])
            row[kind] = (build_ms, float(np.median(search_ms)), recall)
            print(f"{n:>6} {kind:>5} {row[kind][0]:>9.1f} {row[kind][1]:>9.1f} {recall:>7.3f}")
        flat_wins.append({
            kind: all(row["flat"][j] <= row[kind][j] for j in (0, 1))
            and row["flat"][2] >= row[kind][2]
            for kind in KINDS[1:]
        })
    for kind in KINDS[1:]:
        print(
            f"# flat beats {kind} on build ms, search ms and recall at: "
            + ", ".join(f"{n}={'yes' if w[kind] else 'no'}" for n, w in zip(sizes, flat_wins))
        )
    bound = 0
    for n, w in zip(sizes, flat_wins):
        if not w["ivf"]:
            break
        bound = n
    print(f"# largest size up to which flat beats ivf on all three: {bound}")


if __name__ == "__main__":
    main()
