"""PageRank operator: hand-computed values, mass conservation,
dangling redistribution, and convergence agreement with the
fixed-iteration (oracle-checked) variant."""

import pytest
from pyspark.sql import functions as F

from nypd_arrest_etl_spark.operators.graph import pagerank, pagerank_converged


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def _ranks(df):
    return {r.node: r.rank for r in df.collect()}


def test_two_node_cycle_is_uniform(spark):
    r = _ranks(pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iterations=7))
    assert r == {"a": 0.5, "b": 0.5}


def test_dangling_mass_redistributed_hand_computed(spark):
    # a -> b, b dangling. N=2, r0=(.5,.5).
    # iter1: contrib(b)=.5, dangling mass=.5:
    #   a = .15/2 + .85*(0 + .25) = 0.2875 ; b = .075 + .85*.75 = 0.7125
    r = _ranks(pagerank(_edges(spark, [("a", "b")]), iterations=1))
    assert r == {"a": 0.2875, "b": 0.7125}


def test_rank_mass_conserved(spark):
    pairs = [(i, (i * 3 + 1) % 7) for i in range(7) if i != (i * 3 + 1) % 7]
    pairs += [(0, 5), (2, 6), (6, 0)]
    total = (
        pagerank(_edges(spark, pairs), iterations=4, round_to=None)
        .agg(F.sum("rank").alias("s")).collect()[0].s
    )
    assert total == pytest.approx(1.0, abs=1e-12)


def test_authority_node_outranks_leaf(spark):
    # star into 'hub', hub links only to n0 — so hub beats the plain
    # leaves, and n0 (receiving hub's ENTIRE rank each round) beats
    # even hub. Symmetric leaves tie exactly.
    pairs = [(f"n{i}", "hub") for i in range(5)] + [("hub", "n0")]
    r = _ranks(pagerank(_edges(spark, pairs), iterations=10))
    assert r["n1"] == r["n2"] == r["n3"] == r["n4"]  # symmetric leaves
    assert r["hub"] > r["n1"]
    assert r["n0"] > r["hub"]
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-7)


def test_converged_reaches_a_fixed_point(spark):
    # Power iteration contracts the L1 error by <= damping per round,
    # so tol=1e-6 needs ~ln(1e-6)/ln(0.85) ≈ 85 rounds — cap above
    # that so the stop is tol-driven, then PROVE the fixed point: one
    # more explicit power step moves total mass by <= damping * tol.
    from nypd_arrest_etl_spark.operators.graph import (
        _prepared,
        _step,
        _uniform_tele,
    )

    pairs = [(i, (i * i + 1) % 11) for i in range(11) if i != (i * i + 1) % 11]
    e = _edges(spark, pairs)
    conv, its, converged = pagerank_converged(e, tol=1e-6, max_iterations=120)
    assert 1 < its < 120  # actually iterated, actually stopped early
    assert converged  # and the stop was tol-driven, not the cap
    ep, deg, nodes = _prepared(e, "src", "dst")
    nxt = _step(ep, deg, _uniform_tele(nodes, float(nodes.count())), conv, 0.85)
    delta = (
        nxt.join(conv.withColumnRenamed("rank", "prev"), "node")
        .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d"))
        .collect()[0].d
    )
    assert delta < 2e-6


def test_multi_edges_are_collapsed(spark):
    # duplicate (a,b) edges must not double b's contribution share
    once = _ranks(pagerank(_edges(spark, [("a", "b"), ("b", "a")]), iterations=3))
    dup = _ranks(
        pagerank(_edges(spark, [("a", "b"), ("a", "b"), ("b", "a")]), iterations=3)
    )
    assert once == dup


def test_rejects_zero_iterations(spark):
    with pytest.raises(ValueError):
        pagerank(_edges(spark, [("a", "b")]), iterations=0)


def test_null_edge_endpoints_dropped(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), (None, "a"), ("b", None)], ["src", "dst"]
    )
    r = _ranks(pagerank(e, iterations=5))
    assert set(r) == {"a", "b"}
    assert r["a"] == r["b"] == 0.5


def test_personalized_uniform_teleport_matches_standard(spark):
    from nypd_arrest_etl_spark.operators.graph import pagerank_personalized

    pairs = [(i, (i * 3 + 1) % 7) for i in range(7) if i != (i * 3 + 1) % 7]
    e = _edges(spark, pairs)
    nodes = sorted({n for p in pairs for n in p})
    uniform = spark.createDataFrame([(n, 1.0) for n in nodes], ["node", "weight"])
    std = _ranks(pagerank(e, iterations=4))
    ppr = _ranks(pagerank_personalized(e, uniform, iterations=4))
    assert ppr == std


def test_personalized_seed_pulls_rank_toward_seed(spark):
    from nypd_arrest_etl_spark.operators.graph import pagerank_personalized

    # chain a -> b -> c -> a; seed everything on 'a'
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    seed = spark.createDataFrame([("a", 1.0)], ["node", "weight"])
    r = _ranks(pagerank_personalized(e, seed, iterations=12, round_to=None))
    std = _ranks(pagerank(_edges(spark, [("a", "b"), ("b", "c"), ("c", "a")]),
                          iterations=12, round_to=None))
    assert r["a"] > std["a"]          # seed node gains vs uniform teleport
    assert r["a"] > r["b"] > r["c"] or r["a"] > r["c"]  # proximity ordering
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_rejects_zero_mass_teleport(spark):
    from nypd_arrest_etl_spark.operators.graph import pagerank_personalized

    e = _edges(spark, [("a", "b")])
    ghost = spark.createDataFrame([("zzz", 1.0)], ["node", "weight"])  # not in graph
    with pytest.raises(ValueError):
        pagerank_personalized(e, ghost, iterations=2)


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------

from nypd_arrest_etl_spark.operators.graph import (  # noqa: E402
    connected_components,
    connected_components_converged,
)


def _comps(df):
    return {r.node: r.comp for r in df.collect()}


def test_cc_two_components_string_labels(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    comp, rounds, converged = connected_components_converged(e)
    assert converged and rounds >= 1
    assert _comps(comp) == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_direction_and_duplicates_ignored(spark):
    # (b,a) vs (a,b) and duplicate edges must give identical labels
    base = _comps(connected_components_converged(
        _edges(spark, [("a", "b"), ("b", "c")]))[0])
    flip = _comps(connected_components_converged(
        _edges(spark, [("b", "a"), ("c", "b"), ("c", "b")]))[0])
    assert base == flip == {"a": "a", "b": "a", "c": "a"}


def test_cc_self_loop_is_singleton_not_dropped(spark):
    comp = _comps(connected_components_converged(
        _edges(spark, [("s", "s"), ("a", "b")]))[0])
    assert comp == {"s": "s", "a": "a", "b": "a"}


def test_cc_fixed_rounds_propagate_exactly_r_hops(spark):
    # chain 0-1-...-9: after r plain hash-min rounds, comp[v] = max(0, v-r)
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    comp = _comps(connected_components(e, rounds=3))
    assert comp == {v: max(0, v - 3) for v in range(10)}


def test_cc_pointer_jumping_converges_logarithmically(spark):
    # 64-node chain has diameter 63; plain hash-min would need 63
    # rounds, hash-min + pointer jump must finish in O(log) rounds.
    e = _edges(spark, [(i, i + 1) for i in range(63)])
    comp, rounds, converged = connected_components_converged(e, max_rounds=15)
    assert converged, f"not converged after {rounds} rounds"
    assert set(_comps(comp).values()) == {0}


def test_cc_converged_flag_false_when_capped(spark):
    e = _edges(spark, [(i, i + 1) for i in range(40)])
    _comp, rounds, converged = connected_components_converged(e, max_rounds=2)
    assert rounds == 2 and not converged


def test_cc_null_endpoints_dropped(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("a", None), (None, "z")], ["src", "dst"]
    )
    comp = _comps(connected_components_converged(e)[0])
    assert comp == {"a": "a", "b": "a"}


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

from nypd_arrest_etl_spark.operators.graph import triangle_count  # noqa: E402


def _tris(df):
    return {r.node: r.triangles for r in df.collect()}


def test_triangles_single_triangle_with_pendant(spark):
    t = _tris(triangle_count(_edges(
        spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])))
    assert t == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_triangles_k4_every_node_in_three(spark):
    nodes = ["a", "b", "c", "d"]
    pairs = [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1:]]
    assert _tris(triangle_count(_edges(spark, pairs))) == {
        n: 3 for n in nodes
    }


def test_triangles_square_has_none(spark):
    t = _tris(triangle_count(_edges(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])))
    assert t == {n: 0 for n in "abcd"}


def test_triangles_direction_duplicates_selfloops_ignored(spark):
    # same triangle written with mixed directions, duplicate edges,
    # and a self-loop must count exactly once per corner
    t = _tris(triangle_count(_edges(
        spark,
        [("a", "b"), ("b", "a"), ("c", "b"), ("a", "c"), ("a", "c"),
         ("a", "a")],
    )))
    assert t == {"a": 1, "b": 1, "c": 1}


def test_triangles_hub_star_is_triangle_free(spark):
    # degree orientation must not blow up or miscount on a hub
    pairs = [(f"n{i}", "hub") for i in range(30)]
    t = _tris(triangle_count(_edges(spark, pairs)))
    assert set(t.values()) == {0} and len(t) == 31


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------

from nypd_arrest_etl_spark.operators.graph import (  # noqa: E402
    k_core,
    k_core_converged,
)


def test_kcore_extracts_clique_from_chain(spark):
    # triangle abc (each deg 2) + chain tail c-d-e (deg <= 2 on tail)
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    nodes, rounds, converged = k_core_converged(_edges(spark, pairs), k=2)
    assert converged
    assert {r.node for r in nodes.collect()} == {"a", "b", "c"}


def test_kcore_cascade_dissolves_chain(spark):
    # pure chain has no 2-core: peeling cascades from both ends
    pairs = [(i, i + 1) for i in range(10)]
    nodes, rounds, converged = k_core_converged(_edges(spark, pairs), k=2)
    assert converged and nodes.count() == 0
    assert rounds >= 3  # the cascade really iterated


def test_kcore_fixed_rounds_snapshot_vs_converged(spark):
    # fixed rounds over-approximate the true core; enough rounds equal it
    pairs = [(i, i + 1) for i in range(6)] + [("x", "y")]
    snap = {r.node for r in k_core(_edges(spark, pairs), k=2, rounds=1).collect()}
    full, _r, conv = k_core_converged(_edges(spark, pairs), k=2)
    assert conv
    full_set = {r.node for r in full.collect()}
    assert full_set == set() and full_set <= snap and snap  # strict snapshot


def test_kcore_converged_flag_false_when_capped(spark):
    pairs = [(i, i + 1) for i in range(30)]
    _n, rounds, converged = k_core_converged(_edges(spark, pairs), k=2, max_rounds=2)
    assert rounds == 2 and not converged


# ---------------------------------------------------------------------------
# Empty graphs and the converged loops' shape
# ---------------------------------------------------------------------------


def _no_node_edges(spark):
    # the one edge has a NULL endpoint, so the graph has no node
    return spark.createDataFrame([(None, 1)], "src long, dst long")


def test_pagerank_empty_graph_returns_no_ranks(spark):
    ranks = pagerank(_no_node_edges(spark))
    assert ranks.columns == ["node", "rank"] and ranks.count() == 0


def test_pagerank_converged_empty_graph_is_converged(spark):
    ranks, its, converged = pagerank_converged(_no_node_edges(spark))
    assert ranks.columns == ["node", "rank"] and ranks.count() == 0
    assert its == 0 and converged


def test_components_and_kcore_converged_empty_graph(spark):
    comp, rounds, converged = connected_components_converged(_no_node_edges(spark))
    assert comp.columns == ["node", "comp"] and comp.count() == 0
    assert rounds == 1 and converged
    core, rounds, converged = k_core_converged(_no_node_edges(spark), k=2)
    assert core.count() == 0 and rounds == 1 and converged


# Each converged loop, capped so that it runs exactly `cap` rounds (tol
# 0 never stops PageRank; a 40-chain needs ~6 jump rounds and a 30-chain
# ~15 peels), and the pins its set-up takes before the first round.
_CAPPED = {
    "pagerank": (
        lambda spark, cap: pagerank_converged(
            _edges(spark, [(i, (i * 3 + 1) % 7) for i in range(7)] + [(2, 9)]),
            tol=0.0, max_iterations=cap,
        ),
        2,  # edge list, node table
    ),
    "components": (
        lambda spark, cap: connected_components_converged(
            _edges(spark, [(i, i + 1) for i in range(40)]), max_rounds=cap
        ),
        1,  # symmetrized edge list
    ),
    "kcore": (
        lambda spark, cap: k_core_converged(
            _edges(spark, [(i, i + 1) for i in range(30)]), k=2, max_rounds=cap
        ),
        1,  # symmetrized edge list
    ),
}


@pytest.mark.parametrize("loop", sorted(_CAPPED))
def test_converged_round_is_one_pinned_plan(spark, monkeypatch, loop):
    """Job census by job group: every localCheckpoint runs in a group
    of its own, so a job in the call's group is a probe outside any
    pin (a collect or count). Each round must add exactly one pin and
    no probe, whatever the round count."""
    run, setup_pins = _CAPPED[loop]
    sc = spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    real = frame.localCheckpoint

    def census(cap):
        outer, pins = f"{loop}-cap{cap}", []

        def pin(self, *args, **kwargs):
            pins.append(f"{outer}-pin{len(pins)}")
            sc.setJobGroup(pins[-1], pins[-1])
            try:
                return real(self, *args, **kwargs)
            finally:
                sc.setJobGroup(outer, outer)

        monkeypatch.setattr(frame, "localCheckpoint", pin)
        sc.setJobGroup(outer, outer)
        try:
            _res, rounds, converged = run(spark, cap)
        finally:
            monkeypatch.setattr(frame, "localCheckpoint", real)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert rounds == cap and not converged
        assert all(jobs(g) for g in pins)  # positive control: pins run jobs
        return len(jobs(outer)), len(pins)

    for cap in (1, 2, 3):
        probes, pins = census(cap)
        assert probes == 0, f"{loop}: {probes} jobs outside a pin at cap {cap}"
        assert pins == setup_pins + cap, f"{loop}: {pins} pins for {cap} rounds"


@pytest.mark.parametrize("loop", sorted(_CAPPED))
def test_converged_call_leaves_only_its_result_pinned(spark, loop):
    """A converged call frees every pin but the returned iterate:
    getPersistentRDDs grows by exactly one entry, and the result still
    reads after the intermediate pins are gone."""
    jsc = spark.sparkContext._jsc

    def census() -> set:
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    run, _setup_pins = _CAPPED[loop]
    before = census()
    res, _rounds, _converged = run(spark, 3)
    left = census() - before
    try:
        assert len(left) == 1, f"{loop} left {len(left)} pins behind"
        assert res.count() > 0
    finally:
        for i in left:
            r = jsc.getPersistentRDDs().get(i)
            if r is not None:
                r.unpersist(False)
