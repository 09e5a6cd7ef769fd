"""ANF neighborhood function + effective diameter (operators/graph.py).

Exact mode is pinned on hand-computed graphs; sketch mode (the scale
path) is checked against exact mode within FM error bounds and for
bit-determinism across runs.
"""
import pytest
from pyspark.sql import functions as F

from gliner_spark.operators.graph import (
    effective_diameter,
    neighborhood_function,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_exact_path_graph(spark):
    # 1 -> 2 -> 3 -> 4
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    nf = {
        r["t"]: r["n_pairs"]
        for r in neighborhood_function(e, max_t=5, method="exact").collect()
    }
    assert nf == {0: 4.0, 1: 7.0, 2: 9.0, 3: 10.0, 4: 10.0, 5: 10.0}


def test_exact_undirected_and_self_loops_dropped(spark):
    e = _edges(spark, [(1, 2), (2, 3), (1, 1)])
    nf = {
        r["t"]: r["n_pairs"]
        for r in neighborhood_function(
            e, max_t=3, method="exact", directed=False
        ).collect()
    }
    # chain 1-2-3 undirected: NF(0)=3, NF(1)=3+4=7, NF(2)=9 (all pairs)
    assert nf == {0: 3.0, 1: 7.0, 2: 9.0, 3: 9.0}


def test_exact_row_count_fixed_grid(spark):
    e = _edges(spark, [(1, 2)])
    rows = neighborhood_function(e, max_t=6, method="exact").collect()
    assert len(rows) == 7
    assert sorted(r["t"] for r in rows) == list(range(7))


@pytest.mark.parametrize(
    "pairs",
    [
        # functional graph (out-degree 1): every ball is tiny -> pins
        # the linear-counting small-range correction
        [(i % 97, (i * 7 + 3) % 97) for i in range(400)],
        # expander (mixed moduli): balls saturate ~full graph by t=4
        [(i % 97, (i * 7 + 3) % 89) for i in range(400)],
    ],
    ids=["deg1-chain", "expander"],
)
def test_sketch_tracks_exact_within_fm_error(spark, pairs):
    e = _edges(spark, pairs)
    exact = {
        r["t"]: r["n_pairs"]
        for r in neighborhood_function(e, max_t=6, method="exact").collect()
    }
    est = {
        r["t"]: r["n_pairs"]
        for r in neighborhood_function(
            e, max_t=6, method="sketch", n_sketches=64
        ).collect()
    }
    assert set(est) == set(exact)
    for t, v in exact.items():
        assert est[t] == pytest.approx(v, rel=0.15), (t, est[t], v)
    # monotone non-decreasing estimates
    seq = [est[t] for t in sorted(est)]
    assert all(b >= a for a, b in zip(seq, seq[1:]))


def test_sketch_deterministic(spark):
    e = _edges(spark, [(i % 31, (i * 5 + 1) % 31) for i in range(80)])
    a = neighborhood_function(e, max_t=4, n_sketches=16).collect()
    b = neighborhood_function(e, max_t=4, n_sketches=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_effective_diameter_interpolation(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    nf = neighborhood_function(e, max_t=4, method="exact")
    # NF = [4,7,9,10,10]; q=0.9 -> target 9.0 -> exactly t=2
    assert effective_diameter(nf, q=0.9) == 2.0
    # q=0.5 -> target 5.0, between t=0 (4) and t=1 (7): 0 + 1/3
    assert effective_diameter(nf, q=0.5) == pytest.approx(1 / 3)


def test_bad_method_raises(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        neighborhood_function(e, method="hyperball")


def test_distance_profile_exact_path_graph(spark):
    from gliner_spark.operators.graph import distance_profile

    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    prof = {
        (r["id"], r["t"]): r["ball"]
        for r in distance_profile(e, max_t=3, method="exact").collect()
    }
    # vertex 1 reaches one more per hop; vertex 4 reaches nothing
    assert prof[(1, 0)] == 1 and prof[(1, 1)] == 2 and prof[(1, 3)] == 4
    assert prof[(4, 0)] == 1 and prof[(4, 3)] == 1
    assert len(prof) == 4 * 4


def test_harmonic_centrality_exact_matches_python(spark):
    from gliner_spark.operators.graph import harmonic_centrality

    pairs = [(i % 23, (i * 7 + 3) % 23) for i in range(60)]
    e = _edges(spark, pairs)
    got = {
        r["id"]: r["centrality"]
        for r in harmonic_centrality(e, max_t=6, method="exact").collect()
    }
    # python BFS
    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
    verts = {v for p in pairs if p[0] != p[1] for v in p}
    for v in verts:
        dist = {v: 0}
        frontier = [v]
        for d in range(1, 7):
            nxt = []
            for x in frontier:
                for y in adj.get(x, ()):
                    if y not in dist:
                        dist[y] = d
                        nxt.append(y)
            frontier = nxt
        want = sum(1.0 / d for u, d in dist.items() if d > 0)
        assert got[v] == pytest.approx(want, abs=1e-9), v


def test_harmonic_centrality_sketch_tracks_exact(spark):
    from gliner_spark.operators.graph import harmonic_centrality

    pairs = [(i % 97, (i * 7 + 3) % 89) for i in range(400)]
    e = _edges(spark, pairs)
    exact = {
        r["id"]: r["centrality"]
        for r in harmonic_centrality(e, max_t=5, method="exact").collect()
    }
    est = {
        r["id"]: r["centrality"]
        for r in harmonic_centrality(
            e, max_t=5, method="sketch", n_sketches=64
        ).collect()
    }
    assert set(est) == set(exact)
    # per-vertex sketch error compounds across deltas; total ranking
    # mass should still be close
    tot_e = sum(exact.values())
    tot_s = sum(est.values())
    assert tot_s == pytest.approx(tot_e, rel=0.15)
    # and the top-decile sets overlap strongly
    top_e = {
        v for v, _ in sorted(exact.items(), key=lambda kv: -kv[1])[:10]
    }
    top_s = {
        v for v, _ in sorted(est.items(), key=lambda kv: -kv[1])[:10]
    }
    assert len(top_e & top_s) >= 6


@pytest.mark.parametrize("method", ["exact", "sketch"])
def test_nf_exact_equals_summed_distance_profile(spark, method):
    """NF(t) is the per-round sum of the profile's ball column: exact
    integers agree exactly, sketch double sums up to summation order."""
    from gliner_spark.operators.graph import distance_profile

    pairs = [(i % 31, (i * 5 + 1) % 31) for i in range(80)]
    e = _edges(spark, pairs)
    nf = {
        r["t"]: r["n_pairs"]
        for r in neighborhood_function(e, max_t=4, method=method).collect()
    }
    summed = {
        r["t"]: r["s"]
        for r in distance_profile(e, max_t=4, method=method)
        .groupBy("t")
        .agg(F.sum("ball").alias("s"))
        .collect()
    }
    if method == "exact":
        assert nf == summed
    else:
        assert nf == pytest.approx(summed, rel=1e-12)


def test_sketch_fixpoint_checksum_sees_low_bit_past_2_53(spark):
    """2^16 vertices × 32 masks of 2^32 sum to 2^53 as doubles, so one
    mask gaining bit 0 rounds away in a double checksum and the
    fixpoint test would stop early; the popcount checksum the rounds
    yield is an exact long and moves by one."""
    from gliner_spark.operators.graph import _ball_rounds

    _, _, _, chk, _ = next(
        _ball_rounds(
            _edges(spark, [(0, 1)]), 0, "sketch", 32, 17, "src", "dst", True
        )
    )
    cols = [f"s{k}" for k in range(32)]
    masks = spark.range(1 << 16).select(
        "id", *[F.lit(1 << 32).cast("long").alias(c) for c in cols]
    )
    gained = masks.withColumn(
        "s0",
        F.when(F.col("id") == 0, F.col("s0").bitwiseOR(F.lit(1))).otherwise(
            F.col("s0")
        ),
    )
    as_double = sum((F.col(c).cast("double") for c in cols), F.lit(0.0))

    def sums(df):
        r = df.agg(
            F.sum(chk).alias("chk"), F.sum(as_double).alias("dbl")
        ).collect()[0]
        return r["chk"], r["dbl"]

    (chk0, dbl0), (chk1, dbl1) = sums(masks), sums(gained)
    assert dbl0 == dbl1 == 2.0**53
    assert (chk0, chk1) == (2_097_152, 2_097_153)
