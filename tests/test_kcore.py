"""k-core decomposition: core_numbers vs the sequential
Batagelj-Zaversnik oracle on a deterministic random graph with a
planted clique. Every call runs on both sides of the one-task gate (the
`side` fixture): the one-task Batagelj-Zaversnik finisher and the
distributed h-index refinement."""

import random

import pytest

from gliner_spark.operators.graph import core_numbers


def _core_numbers_py(edges):
    """Batagelj & Zaversnik (2003) min-degree peel via a lazy heap."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    heap = [(d, v) for v, d in deg.items()]
    heapq.heapify(heap)
    removed, core, k = set(), {}, 0
    while heap:
        d, v = heapq.heappop(heap)
        if v in removed or d != deg[v]:
            continue  # stale heap entry
        k = max(k, deg[v])
        core[v] = k
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                deg[u] -= 1
                heapq.heappush(heap, (deg[u], u))
    return core


def _test_graph():
    """Sparse random graph + a planted 6-clique (core 5) + a pendant
    chain (core 1), with directed duplicates and a self-loop thrown in
    to exercise canonicalization."""
    rng = random.Random(41)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(90)
    ]
    clique = [100, 101, 102, 103, 104, 105]
    edges += [
        (a, b) for i, a in enumerate(clique) for b in clique[i + 1 :]
    ]
    edges += [(105, 200), (200, 201), (201, 202)]  # pendant chain
    edges += [(7, 7), (101, 100)]  # self-loop + reversed duplicate
    return edges


@pytest.fixture(scope="module")
def graph_df(spark):
    return spark.createDataFrame(_test_graph(), "src long, dst long")


def test_core_numbers_match_sequential_oracle(spark, graph_df, side):
    got = {r.v: r.core for r in side(lambda: core_numbers(graph_df))}
    want = _core_numbers_py(_test_graph())
    assert got == want
    assert all(want[v] == 5 for v in (100, 101, 102, 103, 104, 105))
    assert want[202] == 1


def test_core_numbers_empty_graph(spark, side):
    e = spark.createDataFrame([], "src long, dst long")
    assert side(lambda: core_numbers(e)) == []


def test_core_sides_agree_on_edge_cases(spark, edge_case, side):
    """Empty, self-loop-only and int32 edge sets: equal rows and equal
    schemas on both sides (the one-task side used to hard-code long
    ids), and the int32 id type is kept."""
    cores = side(lambda: core_numbers(edge_case))
    want = _core_numbers_py(edge_case.collect())
    assert {r.v: r.core for r in cores} == want
    ids = edge_case.schema["src"].dataType
    assert core_numbers(edge_case).schema["v"].dataType == ids
