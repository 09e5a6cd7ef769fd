"""Strongly connected components vs an independent python
reachability-closure oracle (comp(v) = min of {u : v->*u and u->*v}),
on both sides of the one-task gate: the one-task Tarjan finisher and
the distributed trim + forward-backward path."""

import pytest
from pyspark.sql import Row

from gliner_spark.operators.graph import strongly_connected_components
from gliner_spark.plans import iterate


def py_scc(edge_list):
    """O(V·E) closure-based oracle — deliberately NOT Tarjan, so the
    finisher and the oracle share no code."""
    adj = {}
    verts = set()
    for s, d in edge_list:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        verts.add(s)
        verts.add(d)

    def reach(v):
        seen = {v}
        stack = [v]
        while stack:
            u = stack.pop()
            for w in adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        return seen

    fwd = {v: reach(v) for v in verts}
    return {
        v: min(u for u in fwd[v] if v in fwd[u]) for v in verts
    }


CASES = [
    # two 2-cycles bridged, plus a tail
    [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (4, 0)],
    # pure directed cycle
    [(i, (i + 1) % 7) for i in range(7)],
    # DAG chain: all singletons, settles entirely by trimming
    [(i, i + 1) for i in range(9)],
    # the vanish case: trimming 1 and 3 strands 2 edge-less
    [(1, 2), (2, 3)],
    # self-loops only ignored; 5-6-5 cycle survives
    [(4, 4), (5, 6), (6, 5)],
    # pseudo-random with cycles
    sorted({((i * 7) % 19, (i * 11 + 5) % 19) for i in range(70)}),
]


@pytest.mark.parametrize("edges", CASES)
@pytest.mark.parametrize("bound", [500_000, 0])
def test_scc_matches_closure_oracle(spark, edges, bound, monkeypatch):
    """Each side against the oracle: the gate's bound at its default
    (one task) and at 0 (distributed)."""
    monkeypatch.setattr(iterate, "SMALL_SOLVE", bound)
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    got = {
        r.id: r.component
        for r in strongly_connected_components(df).collect()
    }
    assert got == py_scc(edges)


def test_scc_empty_and_self_loop_only(spark, side):
    df = spark.createDataFrame([Row(src=1, dst=1)])
    assert side(lambda: strongly_connected_components(df)) == []
    assert (
        side(lambda: strongly_connected_components(df.where("src = 99")))
        == []
    )


def test_scc_local_equals_distributed_on_mixed_graph(spark, side):
    edges = sorted(
        {((i * i + 3) % 23, (i * 5 + 1) % 23) for i in range(80)}
    )
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    got = side(lambda: strongly_connected_components(df))
    assert {r.id: r.component for r in got} == py_scc(edges)


def test_scc_sides_agree_on_edge_cases(spark, edge_case, side):
    """Empty, self-loop-only and int32 edge sets: equal rows and equal
    schemas on both sides."""
    got = side(lambda: strongly_connected_components(edge_case))
    assert {r.id: r.component for r in got} == py_scc(edge_case.collect())
    assert (
        strongly_connected_components(edge_case).schema["id"].dataType
        == edge_case.schema["src"].dataType
    )


def test_scc_anti_aligned_cycle_flat_rounds(spark, monkeypatch):
    """A directed cycle whose ids DESCEND along the edges, distributed
    path forced: the worst case for the r5 pointer doubling (no pointer
    ever improves, the min walks ONE hop per round, ~2n min-label
    rounds total). This pins two things: (a) correctness on the
    adversarial alignment, and (b) the flat per-round cost of the
    barrier discipline — the first r5 loop chained localCheckpoint
    through the pointer self-join and its per-round DRIVER cost doubled
    from round ~15 (round 21 alone took 95 s; 2n rounds would be
    hours), so this test hangs rather than passes if that regresses.
    Also plants a 3-cycle and an acyclic bridge so the big SCC, a small
    SCC, and the trim/vanish paths coexist."""
    n = 40
    edges = [((i + 1) % n, i) for i in range(n)]  # 0 -> n-1 -> n-2 -> ...
    edges += [(1000, 1001), (1001, 1002), (1002, 1000)]  # 3-cycle
    edges += [(5, 2000), (2000, 1000)]  # acyclic bridge out of the ring
    df = spark.createDataFrame(edges, "src long, dst long")
    monkeypatch.setattr(iterate, "SMALL_SOLVE", 0)
    got = {
        (r.id, r.component)
        for r in strongly_connected_components(df).collect()
    }
    want = {(i, 0) for i in range(n)}
    want |= {(v, 1000) for v in (1000, 1001, 1002)}
    want |= {(2000, 2000)}
    assert got == want
