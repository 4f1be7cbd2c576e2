"""Property-based tests (hypothesis) for the pure-python kernels.

SURVEY §5 notes the reference has no property corpus; we add one for the
deterministic kernels where invariants are crisp: space-filling curves
(bijectivity on the grid), SAX (scale/offset invariance), minhash
(containment monotonicity), HNSW (result ordering + filter soundness).
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from vstream_spark.partitioners.curves import CURVES
from vstream_spark.partitioners.sax import group_of_word, sax_words


@settings(max_examples=25, deadline=None)
@given(st.sampled_from(sorted(CURVES)), st.integers(2, 4))
def test_curves_bijective_on_grid(curve_name, bits):
    curve = CURVES[curve_name]
    side = 1 << bits
    pts = np.array([[x, y] for x in range(side) for y in range(side)], dtype=np.int64)
    idx = curve(pts, bits)
    vals = [int(v) for v in idx]
    assert len(set(vals)) == side * side  # injective on the full grid
    assert min(vals) >= 0


@settings(max_examples=25, deadline=None)
@given(
    st.integers(0, 2**31 - 1),
    st.floats(0.1, 100.0, allow_nan=False),
    st.floats(-50.0, 50.0, allow_nan=False),
)
def test_sax_affine_invariance(seed, scale, shift):
    rng = np.random.RandomState(seed % 2**32)
    mat = rng.rand(20, 16)
    w = sax_words(mat, 8, 4)
    w2 = sax_words(mat * scale + shift, 8, 4)
    assert (w == w2).all()


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(2, 32))
def test_group_of_word_range(seed, groups):
    words = np.arange(-50, 50, dtype=np.int64) * (seed % 97 + 1)
    g = group_of_word(words, groups, seed)
    assert ((g >= 0) & (g < groups)).all()
    # deterministic
    assert (g == group_of_word(words, groups, seed)).all()


@settings(max_examples=15, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_minhash_containment_monotone(seed):
    """Adding shingles can only lower (or keep) each permutation's min."""
    from vstream_spark.operators.dedup import _minhash_perm_params

    a, b = _minhash_perm_params(16, 42)
    rng = np.random.RandomState(seed % 2**32)
    small = rng.randint(0, 2**60, size=5).astype(np.uint64)
    extra = rng.randint(0, 2**60, size=5).astype(np.uint64)
    big = np.concatenate([small, extra])
    with np.errstate(over="ignore"):
        sig_small = ((a[:, None] * small[None, :] + b[:, None]) >> np.uint64(4)).min(axis=1)
        sig_big = ((a[:, None] * big[None, :] + b[:, None]) >> np.uint64(4)).min(axis=1)
    assert (sig_big <= sig_small).all()


@settings(max_examples=10, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 8))
def test_hnsw_ordering_and_filter(seed, k):
    from vstream_spark.index.hnsw import build_index

    rng = np.random.RandomState(seed % 2**32)
    n = 60
    vecs = rng.rand(n, 8).astype(np.float32)
    labels = np.arange(n, dtype=np.int64)
    ts = rng.randint(0, 1000, size=n).astype(np.int64)
    idx = build_index(vecs, labels, ts=ts)
    q = rng.rand(8)
    lbs, ds = idx.search(q, k, ef_search=64)
    assert list(ds) == sorted(ds)
    assert len(set(lbs)) == len(lbs)
    cut = 500
    lbs_f, _ = idx.search(q, k, ef_search=64, min_ts=cut)
    assert all(ts[lb] >= cut for lb in lbs_f)


class _StateStub:
    """Minimal GroupState stand-in for driving the stateful worker directly
    (no Spark streaming machinery — the fn only touches exists/get/update)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


@settings(max_examples=20, deadline=None)
@given(st.data())
def test_stateful_exact_worker_matches_brute_force(data):
    """Random interleaved insert/upsert/delete/query micro-batch sequences,
    stale upserts and deletes of ids not inserted yet included: the
    stateful worker over the exact flat kind (LWW by event time, insert
    wins ties, two-sided TTL window) must equal a numpy brute-force replay
    of the same semantics."""
    import pandas as pd
    from test_stateful_streaming import replay_topk

    from vstream_spark.config import VectorIndexConf
    from vstream_spark.streaming.stateful import stateful_search_fn

    rng = np.random.RandomState(data.draw(st.integers(0, 10_000)))
    dim, k = 4, 3
    fn = stateful_search_fn(VectorIndexConf(dim=dim, index_kind="flat"), k)
    state = _StateStub()

    markers = []  # (id, vec|None, et, is_insert, batch_idx)
    queries = []  # (qid, vec, qet, ttl, batch_idx)
    out_frames = []
    next_id = 0
    for bi in range(data.draw(st.integers(1, 4))):
        rows = []
        for _ in range(data.draw(st.integers(1, 12))):
            kind = data.draw(st.sampled_from(["I", "I", "I", "U", "D", "Q"]))
            et = int(data.draw(st.integers(0, 1000)))
            if kind == "I" or (kind == "U" and next_id):
                # U re-inserts a held id at any time: fresh or stale
                rid = next_id if kind == "I" else int(data.draw(st.integers(0, next_id - 1)))
                v = rng.rand(dim).astype(np.float32)
                rows.append((0, "I", rid, v.tolist(), et, 0))
                markers.append((rid, v, et, True, bi))
                next_id += kind == "I"
            elif kind == "D":
                # up to one id past the inserted ones: a delete that
                # arrives before its insert
                did = int(data.draw(st.integers(0, next_id)))
                rows.append((0, "D", did, None, et, 0))
                markers.append((did, None, et, False, bi))
            else:
                q = rng.rand(dim).astype(np.float32)
                qid = 10_000 + len(queries)
                ttl = int(data.draw(st.integers(0, 2000)))
                qet = int(data.draw(st.integers(0, 1500)))
                rows.append((0, "Q", qid, q.tolist(), qet, ttl))
                queries.append((qid, q, qet, ttl, bi))
        pdf = pd.DataFrame(
            rows, columns=["partition_id", "op", "id", "emb", "event_time", "ttl"]
        )
        out_frames.extend(fn((0,), iter([pdf]), state))
    got = {}
    for f in out_frames:
        for qid, grp in f.groupby("qid"):
            got[int(qid)] = list(zip(grp["neighbor_id"], grp["distance"]))

    want = replay_topk(markers, queries, k)
    for qid, *_ in queries:
        have = got.get(qid, [])
        assert [m for m, _ in have] == [m for m, _ in want[qid]], (qid, have, want[qid])
        for (_, dg), (_, dw) in zip(have, want[qid]):
            assert abs(dg - dw) < 1e-9
