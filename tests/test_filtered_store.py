"""Predicate-filtered search over the PERSISTED SegmentStore (r11 VERDICT
#3): SegmentSearcher.search_filtered composes the adaptive pre/post routing
with the segment loop + loaded sidecar indexes, the way the reference
threads FilterSeqTs through index traversal over persisted tables
(hnswlib.h:135-146). visible() is the exact-scan oracle surface (LWW +
tombstones + freshness)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vstream_spark.config import VectorIndexConf
from vstream_spark.operators.knn import knn_exact
from vstream_spark.storage.search import SegmentSearcher
from vstream_spark.storage.segments import SegmentStore

SCHEMA = "id bigint, emb array<float>, label int, event_time bigint, ttl bigint, op string"
DIM = 8
K = 5


def _rows(lo, hi, seed=0):
    rng = np.random.RandomState(seed + lo)
    return [
        (i, rng.rand(DIM).astype(np.float32).tolist(), i % 10, i * 100, 10**12, "I")
        for i in range(lo, hi)
    ]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    st = SegmentStore(spark, str(tmp_path_factory.mktemp("fstore") / "segments"))
    for lo in (0, 120):
        seg = st.append_segment(spark.createDataFrame(_rows(lo, lo + 120), SCHEMA))
        st.build_segment_indexes([seg], VectorIndexConf())
    return st


@pytest.fixture(scope="module")
def queries(spark, store):
    df = store.read().filter("id % 37 = 0").selectExpr("id as qid", "emb")
    # materialize: search paths must not depend on the store's own lineage
    return spark.createDataFrame(df.collect(), df.schema)


CONF = VectorIndexConf(dim=DIM, ef_search=256, termination_lower_bound=1.0)


def _assert_same(got_pdf, want_df):
    want = want_df.select("qid", "neighbor_id", "rank").toPandas()
    g = sorted(zip(got_pdf["qid"], got_pdf["neighbor_id"], got_pdf["rank"]))
    w = sorted(zip(want["qid"], want["neighbor_id"], want["rank"]))
    assert g == w


def test_routing_and_pre_filter_exact(store, queries):
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") == 3  # 10% selective -> pre_filter
    got, strategy, sel = searcher.search_filtered(queries, pred, k=K)
    assert strategy == "pre_filter" and abs(sel - 0.1) < 1e-9
    exact = knn_exact(
        searcher.visible().filter(pred).select("id", "emb"), queries, k=K, metric="l2"
    )
    _assert_same(got, exact)


def test_weak_predicate_routes_post_filter_and_matches(store, queries):
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") % 2 == 0  # 50% -> post_filter
    got, strategy, sel = searcher.search_filtered(queries, pred, k=K)
    assert strategy == "post_filter" and abs(sel - 0.5) < 1e-9
    # only matching ids, k per query, ranked 1..k
    vis = searcher.visible()
    allowed = {r.id for r in vis.filter(pred).select("id").collect()}
    assert set(got["neighbor_id"]) <= allowed
    assert got.groupby("qid").size().eq(K).all()
    # high-ef over tiny segments: the oversampled post-filter is exact here
    exact = knn_exact(vis.filter(pred).select("id", "emb"), queries, k=K, metric="l2")
    _assert_same(got, exact)


def test_forced_branches_agree_on_store(store, queries):
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") < 5
    pre, s1, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="pre_filter"
    )
    post, s2, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="post_filter"
    )
    assert (s1, s2) == ("pre_filter", "post_filter")
    assert sorted(zip(pre["qid"], pre["neighbor_id"], pre["rank"])) == sorted(
        zip(post["qid"], post["neighbor_id"], post["rank"])
    )


def test_escalation_when_matches_below_k(store, queries):
    """Predicate with fewer matches than k: every query escalates to the
    exact branch and returns ALL matches, exactly ranked."""
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("id") < 3
    got, _, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="post_filter"
    )
    exact = knn_exact(
        searcher.visible().filter(pred).select("id", "emb"), queries, k=K, metric="l2"
    )
    _assert_same(got, exact)
    assert got.groupby("qid").size().eq(3).all()


def test_oversample_clamp_escalates_instead_of_degrading(store, queries):
    """max_oversample_k bounds the |Q| x k' driver materialization when a
    caller forces post_filter on a selective predicate; the clamp must not
    change the ANSWER — queries left under k matches escalate per-query to
    the exact branch (judged against the FULL query frame, so no query can
    silently vanish from the output)."""
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") == 3  # 10%: k' would be ~100 unclamped
    got, strategy, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="post_filter", max_oversample_k=K
    )
    assert strategy == "post_filter"
    exact = knn_exact(
        searcher.visible().filter(pred).select("id", "emb"), queries, k=K, metric="l2"
    )
    _assert_same(got, exact)
    # every query is present with a full k
    n_q = queries.select("qid").distinct().count()
    assert got.groupby("qid").size().eq(K).all() and got["qid"].nunique() == n_q


def test_force_strategy_validated(store, queries):
    with pytest.raises(ValueError, match="force_strategy"):
        SegmentSearcher(store, CONF).search_filtered(
            queries, F.col("label") == 0, k=K, force_strategy="postfilter"
        )


def test_visible_resolves_lww_tombstones_freshness(spark, tmp_path):
    """visible() is the snapshot the searcher answers from: deletes drop the
    id, a re-insert's NEWEST version wins, freshness excludes old rows, and
    search_filtered's branches respect all three."""
    st = SegmentStore(spark, str(tmp_path / "segv"))
    st.append_segment(spark.createDataFrame(_rows(0, 40), SCHEMA))
    newvec = np.full(DIM, 0.5, dtype=np.float32).tolist()
    rows2 = [
        (3, None, 3, 9_000, 10**12, "D"),  # delete id 3
        (5, newvec, 5 % 10, 9_001, 10**12, "I"),  # re-insert id 5
    ]
    st.append_segment(spark.createDataFrame(rows2, SCHEMA))
    searcher = SegmentSearcher(st, CONF)

    vis = searcher.visible().toPandas()
    assert 3 not in set(vis["id"])
    v5 = vis[vis["id"] == 5]
    assert len(v5) == 1 and list(v5["emb"].iloc[0]) == pytest.approx(newvec)

    fresh = searcher.visible(min_event_time=2_000).toPandas()
    assert (fresh["event_time"] >= 2_000).all()

    # search_filtered over a predicate including the deleted id: id 3 never
    # appears on either branch
    q = spark.createDataFrame([(0, newvec)], "qid long, emb array<float>")
    for forced in ("pre_filter", "post_filter"):
        got, _, _ = searcher.search_filtered(
            q, F.col("id") < 10, k=K, force_strategy=forced
        )
        assert 3 not in set(got["neighbor_id"])
        assert 5 in set(got["neighbor_id"])


def test_empty_store_returns_empty(spark, tmp_path):
    st = SegmentStore(spark, str(tmp_path / "segempty"))
    searcher = SegmentSearcher(st, CONF)
    q = spark.createDataFrame(
        [(0, [0.0] * DIM)], "qid long, emb array<float>"
    )
    got, strategy, sel = searcher.search_filtered(q, F.col("id") > 0, k=K)
    assert len(got) == 0 and sel == 0.0


def test_in_index_routes_and_matches_exact(store, queries):
    """r12 VERDICT missing #1: with a SQL hint, a weak predicate routes to
    the in_index branch — the allowlist is built executor-side from each
    segment's own attribute columns and threaded INTO graph traversal
    (FilterSeqTs analog), searched at depth k (no oversampling). High-ef
    over tiny segments => exact."""
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") % 2 == 0
    got, strategy, sel = searcher.search_filtered(
        queries, pred, k=K, predicate_expr="label % 2 = 0"
    )
    assert strategy == "in_index" and abs(sel - 0.5) < 1e-9
    exact = knn_exact(
        searcher.visible().filter(pred).select("id", "emb"),
        queries, k=K, metric="l2",
    )
    _assert_same(got, exact)


def test_in_index_agrees_with_forced_post_filter(store, queries):
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") < 5
    ii, s1, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="in_index",
        predicate_expr="label < 5",
    )
    post, s2, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="post_filter"
    )
    assert (s1, s2) == ("in_index", "post_filter")
    assert sorted(zip(ii["qid"], ii["neighbor_id"], ii["rank"])) == sorted(
        zip(post["qid"], post["neighbor_id"], post["rank"])
    )


def test_in_index_permissive_hint_is_safe(store, queries):
    """An equal-or-WEAKER hint is the contract (allowlist must be a
    superset of the matches): an always-true hint degrades in_index to an
    unfiltered search + re-check — correct, never wrong."""
    searcher = SegmentSearcher(store, CONF)
    pred = F.col("label") % 2 == 0
    got, strategy, _ = searcher.search_filtered(
        queries, pred, k=K, force_strategy="in_index",
        predicate_expr="label >= 0",
    )
    assert strategy == "in_index"
    exact = knn_exact(
        searcher.visible().filter(pred).select("id", "emb"),
        queries, k=K, metric="l2",
    )
    _assert_same(got, exact)


def test_in_index_hint_implication_guard(store, queries):
    """A hint the predicate does NOT imply could under-fill a query's k
    without tripping the deficiency check (the allowlist silently excludes
    true matches) — the probe enforces predicate => expr mechanically and
    raises instead of degrading."""
    searcher = SegmentSearcher(store, CONF)
    with pytest.raises(ValueError, match="not implied"):
        searcher.search_filtered(
            queries, F.col("label") % 2 == 0, k=K,
            force_strategy="in_index", predicate_expr="label = 9",
        )


def test_in_index_requires_expr(store, queries):
    with pytest.raises(ValueError, match="predicate_expr"):
        SegmentSearcher(store, CONF).search_filtered(
            queries, F.col("label") == 0, k=K, force_strategy="in_index"
        )


def test_filtered_search_never_writes_termination_ema(store, queries):
    """ADVICE r12 (medium): the oversampled/allowlisted internal search
    must not seed or inflate the shared C8 EMA — a later plain search(k)
    would compare its small kth distance against the contaminated
    threshold and terminate early, silently degrading recall."""
    searcher = SegmentSearcher(store, CONF)
    assert searcher.termination_threshold == 0.0
    searcher.search_filtered(
        queries, F.col("label") % 2 == 0, k=K, force_strategy="post_filter"
    )
    assert searcher.termination_threshold == 0.0  # not seeded by k_over
    searcher.search(queries, k=K)
    seeded = searcher.termination_threshold
    assert seeded > 0.0
    searcher.search_filtered(
        queries, F.col("label") % 2 == 0, k=K, force_strategy="post_filter"
    )
    searcher.search_filtered(
        queries, F.col("label") % 2 == 0, k=K,
        force_strategy="in_index", predicate_expr="label % 2 = 0",
    )
    assert searcher.termination_threshold == seeded  # unchanged by both


def test_in_index_respects_tombstones_and_lww(spark, tmp_path):
    """in_index over a store with deletes + re-inserts: the allowlist is
    per-segment permissive, LWW and the predicate re-check resolve
    versions — deleted ids never return, the newest version wins."""
    st = SegmentStore(spark, str(tmp_path / "segii"))
    st.append_segment(spark.createDataFrame(_rows(0, 40), SCHEMA))
    newvec = np.full(DIM, 0.5, dtype=np.float32).tolist()
    rows2 = [
        (3, None, 3, 9_000, 10**12, "D"),
        (5, newvec, 5 % 10, 9_001, 10**12, "I"),
    ]
    st.append_segment(spark.createDataFrame(rows2, SCHEMA))
    searcher = SegmentSearcher(st, CONF)
    q = spark.createDataFrame([(0, newvec)], "qid long, emb array<float>")
    got, strategy, _ = searcher.search_filtered(
        q, F.col("id") < 10, k=K, force_strategy="in_index",
        predicate_expr="id < 10",
    )
    assert strategy == "in_index"
    assert 3 not in set(got["neighbor_id"])
    assert 5 in set(got["neighbor_id"])


def test_hint_grammar_validated():
    """The hint is evaluated by TWO engines (Spark guard, duckdb
    allowlists); constructs whose semantics diverge across them — '^' is
    XOR in Spark but POWER in duckdb, functions in general — are rejected
    up front instead of silently narrowing the allowlist."""
    from vstream_spark.storage.search import validate_hint_expr

    for ok in (
        "label % 2 = 0",
        "label < 5 AND id IS NOT NULL",
        "label IN (1, 2, 3) OR label BETWEEN 7 AND 9",
        "name <> 'x''y'",
        "NOT (label >= 4)",
        "label == 0",  # '==' is equality in BOTH engines — safe
    ):
        validate_hint_expr(ok)
    for bad in ("label ^ 1 = 0", "abs(label) > 0", "a || b = 'x'",
                "label & 1 = 0"):
        with pytest.raises(ValueError):
            validate_hint_expr(bad)


def test_in_index_segment_with_no_matches_is_skipped(spark, tmp_path):
    """Time-ranged segment whose allowlist is empty under the hint: the
    segment task short-circuits (no exhaustive component walk, no index
    load) and the result still matches exact — the other segment carries
    the matches; LWW/merge unaffected. Visited first in a chunk, the
    empty segment is skipped and the chunk's next segment still runs."""
    st = SegmentStore(spark, str(tmp_path / "segskip"))
    # segment 1: ids 0..39 (labels 0-9 cycle); segment 2: ids 1000..1039
    # with label column forced to a value the predicate excludes
    st.append_segment(spark.createDataFrame(_rows(0, 40), SCHEMA))
    rows2 = [
        (1000 + i, np.random.RandomState(i).rand(DIM).astype(np.float32).tolist(),
         99, 10_000 + i, 10**12, "I")
        for i in range(40)
    ]
    st.append_segment(spark.createDataFrame(rows2, SCHEMA))
    searcher = SegmentSearcher(st, CONF)
    pred = F.col("label") < 10
    got, strategy, _ = searcher.search_filtered(
        spark.createDataFrame([(0, [0.4] * DIM)], "qid long, emb array<float>"),
        pred, k=K, force_strategy="in_index", predicate_expr="label < 10",
    )
    assert strategy == "in_index"
    assert (got["neighbor_id"] < 1000).all()
    exact = knn_exact(
        searcher.visible().filter(pred).select("id", "emb"),
        spark.createDataFrame([(0, [0.4] * DIM)], "qid long, emb array<float>"),
        k=K, metric="l2",
    )
    _assert_same(got, exact)

    # a hint zone maps cannot refute, with the empty segment visited FIRST
    # in its chunk: the skip moves on to the chunk's next segment
    empty = st.segments()[1]["id"]
    searcher = SegmentSearcher(st, CONF)
    searcher.temperature = {empty: 1.0}
    q = spark.createDataFrame([(0, [0.4] * DIM)], "qid long, emb array<float>")
    pred = F.col("label") % 2 == 0
    got, strategy, _ = searcher.search_filtered(
        q, pred, k=K, force_strategy="in_index", predicate_expr="label % 2 = 0"
    )
    assert strategy == "in_index"
    assert searcher.last_searched_ids[0] == empty
    even = searcher.visible().filter(pred).select("id", "emb")
    _assert_same(got, knn_exact(even, q, k=K, metric="l2"))


def test_prunable_terms_parser():
    """Only pure range conjunctions qualify for zone-map pruning; anything
    a [min,max] test cannot refute returns None (sound default)."""
    from vstream_spark.storage.search import prunable_terms

    assert prunable_terms("label < 30") == [("label", "<", 30.0)]
    assert prunable_terms("5 <= label AND id > 100") == [
        ("label", ">=", 5.0), ("id", ">", 100.0),
    ]
    assert prunable_terms("label = 3 and ts != 0") == [
        ("label", "=", 3.0), ("ts", "!=", 0.0),
    ]
    # r13 VERDICT #6: BETWEEN and IN are range-refutable and in the
    # validated hint grammar — both now parse (BETWEEN's embedded AND must
    # not split the conjunction)
    assert prunable_terms("label BETWEEN 10 AND 20") == [
        ("label", ">=", 10.0), ("label", "<=", 20.0),
    ]
    assert prunable_terms("label between 1 and 5 AND id > 100") == [
        ("label", ">=", 1.0), ("label", "<=", 5.0), ("id", ">", 100.0),
    ]
    assert prunable_terms("label IN (1,2)") == [("label", "in", (1.0, 2.0))]
    assert prunable_terms("id > 3 AND label IN (7, 8, 9)") == [
        ("id", ">", 3.0), ("label", "in", (7.0, 8.0, 9.0)),
    ]
    assert prunable_terms("label > -5") == [("label", ">", -5.0)]
    assert prunable_terms("label IN (-1, -2)") == [
        ("label", "in", (-1.0, -2.0)),
    ]
    for none_case in (
        "label % 2 = 0",          # arithmetic: range can't refute
        "label < 30 OR id > 2",   # disjunction
        "NOT label < 3",          # negation
        "label IN (1, id)",       # non-literal member
        "label IN ()",            # empty list
        "label IN (1,2",          # unclosed list
        "label BETWEEN 1 AND",    # missing hi bound
        "label BETWEEN 1 OR 5",   # wrong connective
        "label BETWEEN a AND b",  # non-numeric bounds
        "(label < 3)",            # parens (keep the parser dumb and sound)
        "label < id",             # col-col compare
        "label < 3 AND",          # trailing connective
        "label IN (1) OR id < 2", # disjunction after a valid IN term
    ):
        assert prunable_terms(none_case) is None, none_case


def test_segment_prunable_ranges():
    from vstream_spark.storage.search import segment_prunable

    seg = {"col_stats": {"label": [10, 20]}}
    assert segment_prunable(seg, [("label", "<", 10.0)])
    assert segment_prunable(seg, [("label", ">", 20.0)])
    assert segment_prunable(seg, [("label", "=", 30.0)])
    assert not segment_prunable(seg, [("label", "<=", 10.0)])
    assert not segment_prunable(seg, [("label", "=", 15.0)])
    assert not segment_prunable(seg, [("other", "<", 0.0)])  # no stats
    assert not segment_prunable({}, [("label", "<", 0.0)])   # no zone map
    # IN: prunes only when EVERY listed value is outside [min, max]
    assert segment_prunable(seg, [("label", "in", (1.0, 5.0, 25.0))])
    assert not segment_prunable(seg, [("label", "in", (1.0, 15.0))])
    assert not segment_prunable(seg, [("other", "in", (1.0,))])
    # BETWEEN desugars to two comparisons: [22, 30] can't reach max 20
    assert segment_prunable(seg, [("label", ">=", 22.0), ("label", "<=", 30.0)])
    assert not segment_prunable(seg, [("label", ">=", 15.0), ("label", "<=", 30.0)])


def test_zone_map_prunes_segments_before_jobs(spark, tmp_path):
    """End-to-end: a store whose segments carry disjoint label ranges only
    SEARCHES the segments the hint's range can reach — observable through
    C7 temperature (only searched segments get entries) — and the result
    still matches exact."""
    st = SegmentStore(spark, str(tmp_path / "segzone"))
    rng = np.random.RandomState(0)
    for base, lab_lo in ((0, 0), (100, 50)):
        rows = [
            (base + i, rng.rand(DIM).astype(np.float32).tolist(),
             lab_lo + (i % 50), (base + i) * 100, 10**12, "I")
            for i in range(60)
        ]
        seg = st.append_segment(spark.createDataFrame(rows, SCHEMA))
        assert "col_stats" in seg and "label" in seg["col_stats"]
        st.build_segment_indexes([seg], VectorIndexConf())
    searcher = SegmentSearcher(st, CONF)
    q = spark.createDataFrame([(0, [0.5] * DIM)], "qid long, emb array<float>")
    got, strategy, _ = searcher.search_filtered(
        q, F.col("label") < 40, k=K, force_strategy="in_index",
        predicate_expr="label < 40",
    )
    assert strategy == "in_index"
    # the [50,99]-label segment was pruned driver-side: never searched,
    # so it never acquired a temperature entry
    seg_ids = [s["id"] for s in st.segments()]
    assert seg_ids[0] in searcher.temperature
    assert seg_ids[1] not in searcher.temperature
    exact = knn_exact(
        searcher.visible().filter(F.col("label") < 40).select("id", "emb"),
        q, k=K, metric="l2",
    )
    _assert_same(got, exact)
    # a hint every zone map refutes prunes ALL segments: no segment is
    # searched and the empty hit set escalates to an empty exact answer
    got, strategy, _ = searcher.search_filtered(
        q, F.col("label") > 500, k=K, force_strategy="in_index",
        predicate_expr="label > 500",
    )
    assert strategy == "in_index" and searcher.last_searched_ids == []
    assert got.empty
    assert list(got.columns) == ["qid", "neighbor_id", "distance", "rank"]


def test_zone_map_prunes_with_between_and_in_hints(spark, tmp_path):
    """r13 VERDICT #6 end-to-end: BETWEEN and IN hints zone-prune segments
    whose footer [min,max] provably excludes them — observable through C7
    temperature — and the results still match exact."""
    st = SegmentStore(spark, str(tmp_path / "segzone2"))
    rng = np.random.RandomState(1)
    for base, lab_lo in ((0, 0), (100, 50)):
        rows = [
            (base + i, rng.rand(DIM).astype(np.float32).tolist(),
             lab_lo + (i % 50), (base + i) * 100, 10**12, "I")
            for i in range(60)
        ]
        seg = st.append_segment(spark.createDataFrame(rows, SCHEMA))
        st.build_segment_indexes([seg], VectorIndexConf())
    seg_ids = [s["id"] for s in st.segments()]
    q = spark.createDataFrame([(0, [0.5] * DIM)], "qid long, emb array<float>")

    for pred, expr in (
        (F.col("label").between(5, 40), "label BETWEEN 5 AND 40"),
        (F.col("label").isin(5, 12, 33), "label IN (5, 12, 33)"),
    ):
        searcher = SegmentSearcher(st, CONF)
        got, strategy, _ = searcher.search_filtered(
            q, pred, k=K, force_strategy="in_index", predicate_expr=expr
        )
        assert strategy == "in_index"
        # the [50,99]-label segment is refuted by both hints' ranges:
        # pruned before any job, so it never acquired a temperature entry
        assert seg_ids[0] in searcher.temperature, expr
        assert seg_ids[1] not in searcher.temperature, expr
        exact = knn_exact(
            searcher.visible().filter(pred).select("id", "emb"),
            q, k=K, metric="l2",
        )
        _assert_same(got, exact)


def test_in_index_drops_stale_only_matches(spark, tmp_path):
    """ADVICE r13 medium: the per-segment allowlist is permissive (ANY
    insert version of an id matching the expr keeps the id), so an id whose
    only MATCHING version is stale could win the LWW merge at the stale
    vector's distance — the live version (which fails the expr) never
    entered its own segment's allowlist to outrank it. search_filtered's
    predicate re-check against the LWW-visible snapshot drops exactly
    those ids."""
    st = SegmentStore(spark, str(tmp_path / "segstale"))
    rng = np.random.RandomState(2)
    vec7 = rng.rand(DIM).astype(np.float32).tolist()
    # segment A: id 7 with label 0 (matches the expr) + filler ids
    rows_a = [(7, vec7, 0, 700, 10**12, "I")] + [
        (i, rng.rand(DIM).astype(np.float32).tolist(), 0, i * 100, 10**12, "I")
        for i in range(10, 30)
    ]
    sa = st.append_segment(spark.createDataFrame(rows_a, SCHEMA))
    st.build_segment_indexes([sa], VectorIndexConf())
    # segment B: NEWER version of id 7 with label 1 (fails the expr)
    rows_b = [(7, vec7, 1, 9000, 10**12, "I")] + [
        (i, rng.rand(DIM).astype(np.float32).tolist(), 0, i * 100, 10**12, "I")
        for i in range(30, 40)
    ]
    sb = st.append_segment(spark.createDataFrame(rows_b, SCHEMA))
    st.build_segment_indexes([sb], VectorIndexConf())

    searcher = SegmentSearcher(st, CONF)
    q = spark.createDataFrame([(0, vec7)], "qid long, emb array<float>")
    got_f, strategy, _ = searcher.search_filtered(
        q, F.col("label") == 0, k=K,
        force_strategy="in_index", predicate_expr="label = 0",
    )
    assert strategy == "in_index" and 7 not in set(got_f["neighbor_id"])


def test_allowlist_cache_bounded_by_bytes(tmp_path, monkeypatch):
    """ADVICE r13 low: the allowlist cache evicts LRU-first by TOTAL BYTES,
    not entry count — large allowlists can't pin unbounded executor memory.
    Drives _segment_allowlist itself over tiny segment parquet dirs."""
    from collections import OrderedDict

    import pyarrow as pa
    import pyarrow.parquet as pq

    import vstream_spark.storage.search as sm

    monkeypatch.setattr(sm, "_ALLOW_CACHE", OrderedDict())
    monkeypatch.setattr(sm, "_ALLOW_CACHE_BYTES", 0)
    monkeypatch.setattr(sm, "_ALLOW_CACHE_MAX_BYTES", 3 * 8 * 100)

    def allow(name, n):
        path = tmp_path / name
        path.mkdir()
        pq.write_table(
            pa.table({"id": np.arange(n, dtype=np.int64),
                      "label": np.zeros(n, dtype=np.int32)}),
            str(path / "part-0.parquet"),
        )
        ids = sm._segment_allowlist({"id": name, "path": str(path)}, "label = 0")
        assert len(ids) == n

    def cached():
        return {key.split(":")[0] for key in sm._ALLOW_CACHE}

    for name in ("a", "b", "c"):  # three 100-int64 arrays fill the budget
        allow(name, 100)
    assert cached() == {"a", "b", "c"}
    allow("d", 200)  # needs 2 evictions: a and b go, c+d stay
    assert cached() == {"c", "d"}
    assert sm._ALLOW_CACHE_BYTES == 8 * 300
    allow("e", 1000)  # larger than the whole budget: evict all, keep e
    assert cached() == {"e"}


def test_zone_map_excludes_float_columns(spark, tmp_path):
    """ADVICE r13 low: FLOAT/DOUBLE columns never enter the zone map — some
    parquet writers emit NaN-ignoring min/max with has_min_max=True while
    Spark and duckdb order NaN above all values, so a float range could
    zone-prune a segment whose NaN rows actually match."""
    st = SegmentStore(spark, str(tmp_path / "segfloat"))
    schema = (
        "id bigint, emb array<float>, label int, score double, "
        "event_time bigint, ttl bigint, op string"
    )
    rows = [
        (i, [float(i)] * DIM, i % 10, float(i) * 0.5, i * 100, 10**12, "I")
        for i in range(20)
    ]
    seg = st.append_segment(spark.createDataFrame(rows, schema))
    stats = seg.get("col_stats") or {}
    assert "label" in stats and "id" in stats  # integers still mapped
    assert "score" not in stats  # float column excluded


def test_per_version_caches_reused_across_fresh_searchers(
    spark, tmp_path, monkeypatch
):
    """r14: the per-version driver caches (SuperVersion-reuse analog,
    db/version_set.cc) make a SECOND filtered search against an unchanged
    store — from a FRESH searcher, the per-micro-batch streaming shape —
    skip both the visible() snapshot rebuild and the selectivity probe:
    visible() is not called again, and results are identical."""
    from vstream_spark.storage.search import SegmentSearcher as SS

    st = SegmentStore(spark, str(tmp_path / "cachestore"))
    seg = st.append_segment(spark.createDataFrame(_rows(0, 80), SCHEMA))
    st.build_segment_indexes([seg], VectorIndexConf())
    qdf = spark.createDataFrame(
        [(r[0], r[1]) for r in _rows(0, 80)[:6]], "qid bigint, emb array<float>"
    )
    calls = {"n": 0}
    orig = SS.visible

    def counting(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(SS, "visible", counting)
    pred = F.col("label") < 7
    r1, s1, sel1 = SS(st, CONF).search_filtered(
        qdf, pred, k=K, predicate_expr="label < 7"
    )
    n_first = calls["n"]
    assert n_first >= 1
    r2, s2, sel2 = SS(st, CONF).search_filtered(
        qdf, pred, k=K, predicate_expr="label < 7"
    )
    assert calls["n"] == n_first  # snapshot AND probe both cache-hit
    assert (s1, sel1) == (s2, sel2)
    assert sorted(zip(r1["qid"], r1["neighbor_id"], r1["rank"])) == sorted(
        zip(r2["qid"], r2["neighbor_id"], r2["rank"])
    )


def test_per_version_caches_invalidated_by_store_mutation(spark, tmp_path):
    """Any store mutation bumps the manifest version, so the next filtered
    search rebuilds the snapshot and sees the new rows — a cache hit can
    never serve a stale store state."""
    st = SegmentStore(spark, str(tmp_path / "mutstore"))
    seg = st.append_segment(spark.createDataFrame(_rows(0, 60), SCHEMA))
    st.build_segment_indexes([seg], VectorIndexConf())
    q = _rows(0, 60)[7]  # query vector = row 7's embedding
    qdf = spark.createDataFrame([(1, q[1])], "qid bigint, emb array<float>")
    pred = F.col("label") >= 0  # matches everything -> in_index route
    searcher = SegmentSearcher(st, CONF)
    r1, _, _ = searcher.search_filtered(
        qdf, pred, k=3, predicate_expr="label >= 0"
    )
    assert 7 in set(r1["neighbor_id"])
    # mutate: insert an exact duplicate of the query vector under a new id
    st.upsert_batch(
        spark.createDataFrame([(9999, q[1], 5, 10**9, 10**12, "I")], SCHEMA)
    )
    st.build_segment_indexes(st.segments(), VectorIndexConf())
    r2, _, _ = SegmentSearcher(st, CONF).search_filtered(
        qdf, pred, k=3, predicate_expr="label >= 0"
    )
    got = list(r2.sort_values("rank")["neighbor_id"])
    assert 9999 in got  # distance 0 duplicate must appear post-mutation
