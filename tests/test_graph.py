"""Connected components (operators/graph.py): correctness on shapes that
stress both paths — chains (diameter), stars, multiple components, the
NULL/self-loop input contract, the round cap, and the canonical-pick
bookkeeping."""

from simpletasks_data_spark.operators.graph import connected_components, dedup_clusters


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "a bigint, b bigint")
    out = connected_components(df, "a", "b")
    return {r.id: r.component for r in out.collect()}


def test_cc_two_components_and_star(spark, cc_paths):
    for _ in cc_paths():
        got = _cc(spark, [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_cc_long_chain_converges(spark, cc_paths):
    # a 40-node path: path halving must collapse it well under max_iter
    pairs = [(i, i + 1) for i in range(40)]
    for _ in cc_paths():
        got = _cc(spark, pairs)
        assert set(got.values()) == {0}
        assert len(got) == 41


def test_cc_order_independent(spark, cc_paths):
    # reversed pair orientation and shuffled input give the same labels
    pairs = [(5, 1), (2, 5), (9, 8), (3, 2)]
    for _ in cc_paths():
        got = _cc(spark, pairs)
        assert got == {1: 1, 2: 1, 3: 1, 5: 1, 8: 8, 9: 8}


def test_dedup_clusters_canonical_and_sizes(spark, cc_paths):
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint")
    for _ in cc_paths():
        out = dedup_clusters(df).collect()
        by_doc = {r.doc_id: r for r in out}
        assert by_doc[1].is_canonical and by_doc[7].is_canonical
        assert not by_doc[2].is_canonical and not by_doc[8].is_canonical
        assert by_doc[3].cluster_size == 3 and by_doc[8].cluster_size == 2
        assert all(r.cluster_id == min(1, 2, 3) for r in out if r.doc_id in (1, 2, 3))


def test_incremental_minhash_matches(spark):
    from simpletasks_data_spark.operators import dedupe as DD

    import hashlib

    def body(i):
        return " ".join(
            hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:10] for j in range(30)
        )

    corpus = spark.createDataFrame(
        [(i, body(i)) for i in range(20)], "id long, text string"
    )
    sigs = DD.minhash_signatures(corpus, "id", "text")
    new = spark.createDataFrame(
        [(100, body(7)),
         (101, "nothing like anything in the corpus at all whatsoever xyz")],
        "id long, text string",
    )
    out = {r["id"]: (r["matched_id"], r["is_dup"])
           for r in DD.incremental_minhash_matches(new, sigs, "id", "text").collect()}
    assert out[100] == (7, True)     # exact copy of doc 7
    assert out[101] == (None, False)  # genuinely novel


def test_bigstar_two_components_and_star(spark, cc_paths):
    for _ in cc_paths():
        got = _cc(spark, [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_bigstar_long_chain(spark, cc_paths):
    # the long-diameter shape big-star's round count does not grow with
    pairs = [(i, i + 1) for i in range(60)]
    for _ in cc_paths():
        got = _cc(spark, pairs)
        assert set(got.values()) == {0}
        assert len(got) == 61


def test_bigstar_matches_label_prop_random(spark, cc_paths):
    import random

    from test_graph_python_refs import _py_components

    rng = random.Random(7)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    pairs = [(a, b) for a, b in pairs if a != b]
    for _ in cc_paths():
        assert _cc(spark, pairs) == _py_components(pairs)


def test_dedup_clusters_bigstar_algorithm(spark, cc_paths):
    # reversed orientation under caller-named columns
    df = spark.createDataFrame([(2, 1), (3, 2), (8, 7)], "x bigint, y bigint")
    for _ in cc_paths():
        out = {r.doc_id: r for r in dedup_clusters(df, "x", "y").collect()}
        assert out[1].is_canonical and out[3].cluster_size == 3 and out[8].cluster_id == 7


def test_cc_round_cap_raises_convergence_error(spark, monkeypatch):
    """Big-star confirms its fixed point one round after reaching it, so
    a one-round cap cannot converge on a 60-node chain: the call must
    raise, not return unconverged labels."""
    import pytest

    from simpletasks_data_spark.operators import graph

    monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(60)], "a bigint, b bigint")
    with pytest.raises(graph.ConvergenceError):
        connected_components(df, "a", "b")


def test_kcore_path_graph_truncation_warns_and_fixpoint_loops(spark):
    """ADVICE r4: a 17-node path with k=2 peels only its two ends per
    round — 8 bounded rounds leave a non-core remnant labeled 0 (with a
    UserWarning); max_rounds=None must peel everything to the fixpoint."""
    import warnings

    from simpletasks_data_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "u long, v long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = {r["node"]: r["peel_round"] for r in k_core(edges, k=2, max_rounds=4).collect()}
    assert any("peel still active" in str(w.message) for w in caught)
    # 4 rounds peel 8 ends; the 9 middle nodes are mislabeled "core" (0)
    assert sum(1 for v in out.values() if v == 0) == 9

    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        full = {r["node"]: r["peel_round"] for r in k_core(edges, k=2, max_rounds=None).collect()}
    assert not any("peel still active" in str(w.message) for w in caught2)
    assert all(v > 0 for v in full.values())  # a path has no 2-core
    assert max(full.values()) == 9  # 8 end-pair rounds + the lone survivor


def test_bfs_reach_path_graph(spark):
    """Path 1-2-3-4-5, seeds {1, 3}: hop-wise first-reach counts must be
    exact (seed 1 reaches one new node per hop; seed 3 reaches both
    sides at hop 1, ends at hop 2)."""
    from simpletasks_data_spark.operators.graph import bfs_reach

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    seeds = spark.createDataFrame([(1,), (3,)], "seed long")
    got = {
        (r["seed"], r["radius"]): r["n_new"]
        for r in bfs_reach(edges, seeds, radius=3).collect()
    }
    assert got == {
        (1, 1): 1, (1, 2): 1, (1, 3): 1,      # 2, then 3, then 4
        (3, 1): 2, (3, 2): 2,                 # {2,4} then {1,5}; no hop 3
    }


def test_sssp_bounded_weighted_path(spark):
    """Triangle with a shortcut: 1-2 (w5), 2-3 (w5), 1-3 (w20) — the
    two-hop route (10) must beat the direct edge (20); hop bound 1 must
    return the direct cost."""
    from simpletasks_data_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 20)], "u long, v long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    d2 = {r["node"]: r["dist"] for r in sssp_bounded(edges, seeds, max_hops=2).collect()}
    assert d2 == {1: 0, 2: 5, 3: 10}
    d1 = {r["node"]: r["dist"] for r in sssp_bounded(edges, seeds, max_hops=1).collect()}
    assert d1 == {1: 0, 2: 5, 3: 20}


def _labels(df):
    return {r.id: r.component for r in connected_components(df, "a", "b").collect()}


def test_cc_local_path_matches_distributed_hypothesis(spark):
    """The driver-side union-find and big-star agree with each other and
    with the pure-Python reference on random graphs mixing random edges,
    chains, stars, self-loops, and duplicate and reversed edges."""
    import pytest
    from hypothesis import HealthCheck, given, settings, strategies as st
    from test_graph_python_refs import _py_components

    from simpletasks_data_spark.operators import graph

    @st.composite
    def graphs(draw):
        ids = st.integers(0, 40)
        edges = draw(st.lists(st.tuples(ids, ids), min_size=1, max_size=25))
        for start, length in draw(st.lists(st.tuples(st.integers(100, 150), st.integers(1, 20)), max_size=2)):
            edges += [(start + i, start + i + 1) for i in range(length)]
        for hub, k in draw(st.lists(st.tuples(st.integers(200, 220), st.integers(1, 8)), max_size=2)):
            edges += [(hub, 1000 + 10 * hub + j) for j in range(k)]
        edges += [(v, u) for u, v in draw(st.lists(st.sampled_from(edges), max_size=8))]
        edges += draw(st.lists(st.sampled_from(edges), max_size=8))
        edges += [(i, i) for i in draw(st.lists(st.integers(0, 60), max_size=3))]
        return draw(st.permutations(edges))

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(graphs())
    def check(edges):
        df = spark.createDataFrame(edges, "a long, b long")
        local = _labels(df)
        assert local == _py_components(edges)
        with pytest.MonkeyPatch.context() as m:
            m.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
            assert _labels(df) == local

    check()


def test_cc_drops_null_endpoints_and_self_loops_on_both_paths(spark, cc_paths):
    """Edges with a NULL endpoint and self-loops are dropped before the
    gate, the same way on both paths: a node seen only on such edges
    gets no row, and a NULL no longer shuts the local gate (``cc_paths``
    asserts the first pass ran union-find)."""
    df = spark.createDataFrame(
        [(1, None), (None, 5), (None, None), (6, 6), (2, 2), (1, 2), (3, 4)],
        "a bigint, b bigint",
    )
    for _ in cc_paths():
        assert _labels(df) == {1: 1, 2: 1, 3: 3, 4: 3}

