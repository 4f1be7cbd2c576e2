"""Seeded inputs for every workload.

Everything here is a pure function of the workload seed, so the generator
process and the checking code in the benchmark process rebuild identical
inputs without passing data between them.
"""

from __future__ import annotations

import numpy as np

DIM = 128  # bigann's dimension
K = 10
TTL_MS = 2_400_000  # the reference's 40-minute maxTTL
N_COMPONENTS = 32
PREFILL_SEED = 20190327


LOCAL_DIM = 16  # intrinsic dimension of each mixture component


def _centers(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Mixture centers and each component's local basis. They are the same
    for every seed, so the geometry (and with it the ANN recall level) does
    not vary from run to run; the seed draws which points and queries the
    run sees."""
    rng = np.random.default_rng(20190326)
    # components overlap their neighbours: well-separated clusters would
    # split an HNSW graph into islands and make recall a matter of luck
    centers = rng.normal(0.0, 0.35, size=(N_COMPONENTS, DIM)).astype(np.float32)
    basis = rng.normal(0.0, 1.0 / np.sqrt(DIM), size=(N_COMPONENTS, LOCAL_DIM, DIM))
    return centers, basis.astype(np.float32)


def mixture(rng: np.random.Generator, geometry: tuple, comps: np.ndarray) -> np.ndarray:
    """One point per entry of ``comps``: its component's center, plus a
    draw from the component's low-dimensional subspace, plus a little
    isotropic noise. Real embeddings (bigann's SIFT included) have a low
    intrinsic dimension; an isotropic 128-d cloud would not, and its
    near-equal distances make ANN recall swing from seed to seed."""
    centers, basis = geometry
    local = rng.normal(0.0, 1.0, size=(len(comps), LOCAL_DIM)).astype(np.float32)
    spread = np.einsum("nl,nld->nd", local, basis[comps])
    noise = rng.normal(0.0, 0.05, size=(len(comps), DIM)).astype(np.float32)
    return centers[comps] + spread + noise


# -- open-loop mixed streams ---------------------------------------------------


def stream_plan(
    seed: int,
    seconds: float,
    data_eps: int,
    query_qps: int,
    delete_share: float,
    tick_ms: int,
    prefill: int,
) -> dict:
    """The whole mixed insert/delete/query schedule of one stream run.

    Tick ``j`` is due ``j * tick_ms`` ms after the start. Per-tick counts
    are spread so that the first ``j`` ticks always hold the offered rate
    and delete share rounded down: a rate too low for a whole event (or
    delete) every tick still gets its exact share. Deletes target inserts of
    strictly earlier ticks (or the prefill), never the same id twice, so a
    delete's event time is always later than its insert's. Returns numpy
    arrays keyed by name plus per-tick slices.
    """
    rng = np.random.default_rng([seed, 2])
    centers = _centers(seed)
    n_ticks = max(1, int(round(seconds * 1000 / tick_ms)))
    upto = np.arange(n_ticks + 1) * tick_ms / 1000  # seconds before each tick boundary
    n_data = np.floor(upto * data_eps + 1e-9).astype(np.int64)
    n_del = np.floor(upto * data_eps * delete_share + 1e-9).astype(np.int64)
    n_ins = np.diff(n_data - n_del)
    n_del = np.diff(n_del)
    n_q = np.diff(np.floor(upto * query_qps + 1e-9).astype(np.int64))

    # the prefill is the same for every seed: it is what the stateful
    # path's partitioner is fitted on, and a kmeans fit that changed with
    # the seed would move recall from run to run by more than the stream does
    fixed = np.random.default_rng(PREFILL_SEED)
    pre_emb = mixture(fixed, centers, fixed.integers(0, N_COMPONENTS, prefill))
    ins_emb = mixture(rng, centers, rng.integers(0, N_COMPONENTS, int(n_ins.sum())))
    q_emb = mixture(rng, centers, rng.integers(0, N_COMPONENTS, int(n_q.sum())))

    all_emb = np.concatenate([pre_emb, ins_emb])
    live = list(range(prefill))  # ids eligible as delete targets
    ticks = []
    next_id, q0 = prefill, 0
    for j in range(n_ticks):
        ids = np.arange(next_id, next_id + n_ins[j], dtype=np.int64)
        next_id += n_ins[j]
        picks = rng.choice(len(live), size=min(n_del[j], len(live)), replace=False)
        dels = np.asarray(sorted((live[p] for p in picks)), dtype=np.int64)
        for p in sorted(picks, reverse=True):
            live[p] = live[-1]
            live.pop()
        live.extend(ids.tolist())  # deletable from the next tick on
        ticks.append(
            {
                "offset_ms": j * tick_ms,
                "ins": ids,
                "dels": dels,
                "qids": np.arange(q0, q0 + n_q[j], dtype=np.int64),
            }
        )
        q0 += n_q[j]
    return {
        "emb": all_emb,  # row i = vector of data id i
        "prefill": prefill,
        "q_emb": q_emb,  # row q = vector of query q
        "ticks": ticks,
        "tick_ms": tick_ms,
        "last_file": f"t{n_ticks - 1:06d}.parquet",  # the generator's last write
    }


def warmup_queries(seed: int, n: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    return mixture(rng, _centers(seed), rng.integers(0, N_COMPONENTS, n))


# -- near-duplicate corpus -----------------------------------------------------


def corpus(
    seed: int, round_no: int, n_docs: int, id_base: int
) -> tuple[np.ndarray, list[str], np.ndarray]:
    """``n_docs`` documents; about a third sit in planted clusters of 2-5
    near-duplicates (a base text with ~5% of its words substituted), the
    rest are independent draws from a Zipf-like vocabulary. Returns ids,
    texts and each document's planted cluster (-1 for a singleton)."""
    rng = np.random.default_rng([seed, 6, round_no])
    vocab = 3000
    p = 1.0 / np.arange(1, vocab + 1) ** 0.8
    p /= p.sum()

    def doc() -> np.ndarray:
        return rng.choice(vocab, size=int(rng.integers(30, 60)), p=p)

    texts: list[np.ndarray] = []
    groups: list[int] = []
    while len(texts) < n_docs:
        base = doc()
        if rng.random() < 0.15:
            cluster = len(texts)
            for _ in range(int(rng.integers(2, 6))):
                var = base.copy()
                hit = rng.random(len(var)) < 0.05
                var[hit] = rng.integers(0, vocab, int(hit.sum()))
                texts.append(var)
                groups.append(cluster)
        else:
            texts.append(base)
            groups.append(-1)
    texts, groups = texts[:n_docs], groups[:n_docs]
    order = rng.permutation(n_docs)  # cluster members arrive spread out
    ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    return (
        ids,
        [" ".join(f"w{t}" for t in texts[i]) for i in order],
        np.asarray([groups[i] for i in order], dtype=np.int64),
    )
