"""Connected components: both tiers of the single size dispatch (driver
union-find, large-star/small-star loop) against a union-find reference
on adversarial graph shapes."""

import random

from tests.conftest import SF_SMOKE
from waterbear_spark.operators import starcc
from waterbear_spark.operators.starcc import star_connected_components


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # component id = min vertex id reachable
    comp = {}
    for x in list(parent):
        root = find(x)
        comp.setdefault(root, root)
    return {x: find(x) for x in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.vertex, r.component)
        for r in star_connected_components(df).collect()
    }
    want = set(_union_find_components(edges).items())
    assert got == want


def test_chain_graph_high_diameter(spark):
    # worst case for min-label (O(diameter) rounds); star CC must still
    # produce min-vertex labels
    _check(spark, [(i, i + 1) for i in range(60)])


def test_star_and_cliques(spark):
    edges = [(0, i) for i in range(1, 10)]
    edges += [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
    _check(spark, edges)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for _ in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        _check(spark, edges)


def test_lateral_decorrelates_to_window_join(spark):
    """The LATERAL top-k must become a ranked window join, not a
    per-row nested loop."""
    from waterbear_spark.queries.sqlsurface import lateral_top_orders

    plan = (
        lateral_top_orders(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_above_threshold_driver_tier_matches(spark):
    # 700 distinct edges, under the driver-tier bound: exercises the
    # bounded-collect union-find
    rng = random.Random(11)
    seen = set()
    while len(seen) < 700:
        a, b = rng.randrange(500), rng.randrange(500)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    _check(spark, sorted(seen))


def test_above_threshold_distributed_path_matches(spark, monkeypatch):
    # driver tier bound lowered to 0: exercises the alternating-star
    # loop (the 100 TB path) post-dispatch on the same 700-edge graph
    monkeypatch.setattr(starcc, "_DRIVER_MAX_EDGES", 0)
    rng = random.Random(11)
    seen = set()
    while len(seen) < 700:
        a, b = rng.randrange(500), rng.randrange(500)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    _check(spark, sorted(seen))


def test_local_and_distributed_paths_agree(spark, monkeypatch):
    # same 300-edge graph through both tiers: identical label sets
    rng = random.Random(13)
    seen = set()
    while len(seen) < 300:
        a, b = rng.randrange(150), rng.randrange(150)
        if a != b:
            seen.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(seen), "src long, dst long")
    # driver union-find: 300 <= the default bound
    driver = {
        (r.vertex, r.component) for r in star_connected_components(df).collect()
    }
    # alternating-star loop: driver tier bound below the graph
    monkeypatch.setattr(starcc, "_DRIVER_MAX_EDGES", 0)
    dist = {
        (r.vertex, r.component) for r in star_connected_components(df).collect()
    }
    assert driver == dist


def test_over_threshold_graph_never_collects(spark, monkeypatch):
    """The driver tier's collect is gated on the already-paid signature
    count: a graph over _DRIVER_MAX_EDGES edges must go to the star loop
    without _driver_components ever being invoked — an unbounded future
    consumer cannot silently collect."""

    def _boom(*a, **k):
        raise AssertionError("driver tier collected an over-threshold graph")

    monkeypatch.setattr(starcc, "_driver_components", _boom)
    monkeypatch.setattr(starcc, "_DRIVER_MAX_EDGES", 10)
    edges = [(i, i + 1) for i in range(40)]  # 40 > 10: over the tier bound
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.vertex, r.component) for r in star_connected_components(df).collect()}
    assert got == set(_union_find_components(edges).items())


def test_driver_tier_leaves_no_persisted_rdd(spark):
    """The entry edge cache the signature fills is dropped once the
    driver collect has run: a driver-tier call adds no RDD to the
    session's persisted set. (Compared by id, not by size: the context
    cleaner may drop an earlier test's star-loop checkpoints meanwhile.)"""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    df = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "src long, dst long")
    got = {(r.vertex, r.component) for r in star_connected_components(df).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_long_chain_above_threshold(spark, monkeypatch):
    # 600-edge path graph: adversarial diameter for the distributed loop
    monkeypatch.setattr(starcc, "_DRIVER_MAX_EDGES", 0)
    _check(spark, [(i, i + 1) for i in range(600)])
