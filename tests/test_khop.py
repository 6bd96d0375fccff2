"""Bounded multi-source BFS (graphrank.khop_distances): Python-replay
exactness, driver-path == distributed-path, fixpoint early exit."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.graphrank import khop_distances


def _py_bfs(edges, seeds, max_hops):
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(dist)
    for d in range(1, max_hops + 1):
        nxt = {m for n in frontier for m in adj.get(n, ()) if m not in dist}
        for m in nxt:
            dist[m] = d
        if not nxt:
            break
        frontier = nxt
    return dist


@pytest.fixture(scope="module")
def graph():
    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(400)}
    edges = [(a, b) for a, b in edges if a != b]
    seeds = [0, 17, 99]
    return edges, seeds


def _frames(spark, graph, id_type):
    edges, seeds = graph
    e = spark.createDataFrame(edges, f"u {id_type}, v {id_type}")
    s = spark.createDataFrame([(x,) for x in seeds], f"node {id_type}")
    return e, s


@pytest.mark.parametrize(
    "hops,id_type",
    [
        pytest.param(h, t, id=str(h) if t == "bigint" else f"{h}-{t}")
        for t in ("bigint", "int")
        for h in (0, 1, 3)
    ],
)
def test_matches_python_bfs_both_paths(spark, graph, hops, id_type):
    edges, seeds = graph
    e, s = _frames(spark, graph, id_type)
    want = _py_bfs(edges, seeds, hops)
    # driver path (Arrow transfer, numpy BFS) / forced distributed path
    small, dist = (
        khop_distances(e, s, max_hops=hops, small_graph_edges=threshold)
        for threshold in (500_000, 0)
    )
    assert small.schema == dist.schema
    assert small.schema["node"].dataType.simpleString() == id_type
    rows = small.collect()
    assert sorted(rows) == sorted(dist.collect())
    assert {r["node"]: r["dist"] for r in rows} == want


def test_isolated_seed_reports_dist_zero(spark):
    e = spark.createDataFrame([(1, 2)], ["u", "v"])
    s = spark.createDataFrame([(42,), (1,)], ["node"])
    got = {r["node"]: r["dist"] for r in khop_distances(e, s, max_hops=2).collect()}
    assert got == {42: 0, 1: 0, 2: 1}


def test_null_seed_is_dropped_on_both_paths(spark):
    e = spark.createDataFrame([(1, 2)], "u bigint, v bigint")
    s = spark.createDataFrame([(None,), (1,)], "node bigint")
    for threshold in (500_000, 0):
        got = khop_distances(e, s, max_hops=2, small_graph_edges=threshold).collect()
        assert {r["node"]: r["dist"] for r in got} == {1: 0, 2: 1}, threshold


def test_early_exit_equals_full_unroll(spark):
    """A 3-node path exhausts at hop 2; max_hops=10 must early-exit
    with the identical result (fixpoint rounds are identities)."""
    e = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    s = spark.createDataFrame([(1,)], ["node"])
    a = {r["node"]: r["dist"] for r in khop_distances(e, s, max_hops=2, small_graph_edges=0).collect()}
    b = {r["node"]: r["dist"] for r in khop_distances(e, s, max_hops=10, small_graph_edges=0).collect()}
    assert a == b == {1: 0, 2: 1, 3: 2}


def test_min_dist_not_first_path(spark):
    """Diamond + long tail: node 4 is reachable in 2 (via 1-2-4) and in
    3 (via 1-3-5-4); dist must be the MINIMUM."""
    e = spark.createDataFrame([(1, 2), (2, 4), (1, 3), (3, 5), (5, 4)], ["u", "v"])
    s = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["dist"] for r in khop_distances(e, s, max_hops=3).collect()}
    assert got[4] == 2


def test_validation(spark):
    e = spark.createDataFrame([(1, 2)], ["u", "v"])
    s = spark.createDataFrame([(1,)], ["node"])
    with pytest.raises(ValueError, match=">= 0"):
        khop_distances(e, s, max_hops=-1)


# ---- sssp_bounded (weighted Bellman-Ford, q234) ----------------------


def _sssp_py(edges, seeds, rounds):
    """dist = cheapest path using at most `rounds` edges."""
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for n, d in dist.items():
            for m, w in adj.get(n, ()):
                if m not in nxt or d + w < nxt[m]:
                    nxt[m] = d + w
        dist = nxt
    return dist


EDGES_W = [
    (1, 2, 5), (2, 3, 1), (1, 3, 10), (3, 4, 1), (4, 5, 1),
    (5, 6, 1), (1, 6, 2), (7, 8, 3),
]


def _run_sssp(spark, rounds, seeds=(1,)):
    from usajobs_etl_service_spark.operators.graphrank import sssp_bounded

    e = spark.createDataFrame(EDGES_W, "u long, v long, w long")
    s = spark.createDataFrame([(x,) for x in seeds], "node long")
    got = sssp_bounded(e, s, rounds=rounds).collect()
    return {r.node: r.dist for r in got}


def test_sssp_matches_python_per_round(spark):
    for rounds in (0, 1, 2, 3):
        assert _run_sssp(spark, rounds) == _sssp_py(EDGES_W, [1], rounds)


def test_sssp_cheap_detour_beats_direct_edge(spark):
    # 1->3 direct costs 10; 1->2->3 costs 6 — visible from round 2
    assert _run_sssp(spark, 1)[3] == 10
    assert _run_sssp(spark, 2)[3] == 6


def test_sssp_early_exit_equals_full_unroll(spark):
    # diameter-exceeding rounds: early exit must equal the deep unroll
    assert _run_sssp(spark, 10) == _sssp_py(EDGES_W, [1], 10)


def test_sssp_multi_seed_and_disconnected(spark):
    got = _run_sssp(spark, 3, seeds=(1, 7))
    ref = _sssp_py(EDGES_W, [1, 7], 3)
    assert got == ref
    assert got[8] == 3  # reached from seed 7 only


def test_sssp_unit_weights_reduce_to_hops(spark):
    from usajobs_etl_service_spark.operators.graphrank import (
        khop_distances,
        sssp_bounded,
    )

    unit = [(u, v, 1) for u, v, _ in EDGES_W]
    e = spark.createDataFrame(unit, "u long, v long, w long")
    s = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.dist for r in sssp_bounded(e, s, rounds=3).collect()}
    hops = {
        r.node: r.dist
        for r in khop_distances(
            e.select("u", "v"), s, max_hops=3, small_graph_edges=0
        ).collect()
    }
    assert got == hops


def test_sssp_validation(spark):
    from usajobs_etl_service_spark.operators.graphrank import sssp_bounded

    e = spark.createDataFrame(EDGES_W, "u long, v long, w long")
    s = spark.createDataFrame([(1,)], "node long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sssp_bounded(e, s, rounds=-1)
