"""Connected-components tests (operators/graph.py): transitivity, chain
diameters beyond one round, determinism, survivor convention. Every
case runs through both paths: the one-task union-find plan (the size
gate passes) and star contraction (edge cap patched to 0)."""

from __future__ import annotations

import pytest

from ed_fi_x_tpdm_data_ingestion_poc_spark.operators import graph
from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.graph import (
    connected_components,
    dup_clusters,
)


def _both_paths(run):
    """run() on the union-find path, then on the star path; the two
    results must agree, and the shared result is returned."""
    small = run()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph, "_UNION_FIND_EDGE_CAP", 0)
        star = run()
    assert small == star
    return small


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "ida long, idb long")
    return _both_paths(
        lambda: {r["node"]: r["cluster"] for r in connected_components(df).collect()}
    )


def test_transitive_pairs_collapse(spark):
    # a~b, b~c => one cluster {1,2,3}; {7,8} separate
    got = _cc(spark, [(1, 2), (2, 3), (7, 8)])
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-9: diameter 9, needs multiple rounds
    got = _cc(spark, [(i, i + 1) for i in range(9)])
    assert got == {i: 0 for i in range(10)}


def test_orientation_and_duplicates_irrelevant(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_dup_clusters_survivor(spark):
    df = spark.createDataFrame([(5, 9), (9, 11)], "ida long, idb long")
    rows = _both_paths(
        lambda: {
            r["node"]: (r["cluster"], r["keep"]) for r in dup_clusters(df).collect()
        }
    )
    assert rows == {5: (5, 1), 9: (5, 0), 11: (5, 0)}


def test_nonconvergence_raises(spark, monkeypatch):
    df = spark.createDataFrame([(i, i + 1) for i in range(9)], "ida long, idb long")
    monkeypatch.setattr(graph, "_UNION_FIND_EDGE_CAP", 0)
    monkeypatch.setattr(graph, "_STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df)


def test_star_small_graphs_match_union_find(spark):
    for edges, want in (
        ([(1, 2)], {1: 1, 2: 1}),
        ([(5, 9), (9, 11), (20, 21), (30, 31), (31, 20)],
         {5: 5, 9: 5, 11: 5, 20: 20, 21: 20, 30: 20, 31: 20}),
        ([(1, 2), (3, 4), (5, 6), (2, 3), (4, 5)],  # chained pairs
         {i: 1 for i in range(1, 7)}),
        ([(4, 4), (4, 8)], {4: 4, 8: 4}),  # a self-edge adds nothing
    ):
        assert _cc(spark, edges) == want


def test_300_edge_chain_is_one_cluster(spark):
    # Path graph of diameter 300: one union-find pass on the small path,
    # O(log n) contraction rounds on the star path.
    got = _cc(spark, [(i, i + 1) for i in range(300)])
    assert got == {i: 0 for i in range(301)}


def test_star_random_graph_matches_union_find(spark):
    import random

    rng = random.Random(42)
    nodes = list(range(120))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    want = {n: find(n) for n in touched}
    assert _cc(spark, edges) == want


def test_small_input_is_one_plan_after_its_probe(spark):
    """The union-find path is a plan: once the size probe is memoized,
    re-building the components runs no Spark job, and the plan solves
    them in one grouped pandas pass."""
    df = spark.createDataFrame([(1, 2), (2, 3)], "ida long, idb long").persist()
    connected_components(df)  # first build: runs the size probe
    sc = spark.sparkContext
    group = "build:cc_small"
    sc.setJobGroup(group, group)
    try:
        out = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    df.unpersist()




# ---------------------------------------------------------------------------
# core_numbers (k-core decomposition, h-index fixpoint)
# ---------------------------------------------------------------------------


def _coreness(spark, edges):
    from ed_fi_x_tpdm_data_ingestion_poc_spark.operators.graph import (
        core_numbers,
    )

    df = spark.createDataFrame(edges, "u long, v long")
    return {
        r["node"]: r["coreness"] for r in core_numbers(df).collect()
    }


def test_coreness_triangle_with_tail(spark):
    # triangle 1-2-3 (coreness 2 each), tail 3-4-5 (coreness 1)
    got = _coreness(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    assert got == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}


def test_coreness_k4_with_pendant(spark):
    # K4 on 1-4 (coreness 3), pendant 5 off node 1 (coreness 1)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = _coreness(spark, k4 + [(1, 5)])
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 1}


def test_coreness_two_cliques_bridged(spark):
    # two K3s joined by one bridge edge: bridge does not raise coreness
    e = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    got = _coreness(spark, e)
    assert got == {n: 2 for n in range(1, 7)}


def test_coreness_path_all_one(spark):
    got = _coreness(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_coreness_matches_peel_reference(spark):
    # random graph vs a brute-force sequential peel
    import random

    rng = random.Random(11)
    nodes = list(range(30))
    edges = {
        tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
        for _ in range(120)
    }
    edges = [(a, b) for a, b in edges if a != b]

    # reference: classic min-degree peel
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    live = {n: set(v) for n, v in adj.items()}
    k = 0
    while live:
        k = max(k, min(len(v) for v in live.values()))
        doomed = [n for n, v in live.items() if len(v) < k or not v]
        if not doomed:
            doomed = [n for n, v in live.items() if len(v) <= k]
        for n in doomed:
            core[n] = k if len(live[n]) <= k else k
            for m in live[n]:
                live[m].discard(n)
            del live[n]
    # (peel assigns coreness = k at removal time under min-degree order)
    got = _coreness(spark, edges)
    assert got == core
