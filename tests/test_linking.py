"""Entity linking: MinHash-LSH recall on near-dups, Jaccard verify
precision, connected components correctness, canonical determinism."""

import pytest
from pyspark.sql import Row

from gliner_spark.operators.linking import (
    canonicalize,
    candidate_pairs,
    connected_components,
    minhash_signatures,
    rewrite_triples,
    surface_table,
    verified_pairs,
)


def _norm(s):
    import re

    return re.sub(r"[-_\s]+", " ", s.lower()).strip()


def _shingles(s, n=3):
    p = f" {_norm(s)} "
    return {p[i : i + n] for i in range(max(len(p) - n + 1, 1))}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


MENTIONS = [
    ("Acme Corp", "organization", 5),
    ("acme-corp", "organization", 3),     # normalizes identically → J=1.0
    ("Acme Corporation", "organization", 2),
    ("Alice Chen", "person", 4),
    ("alice chen", "person", 2),          # J=1.0 with Alice Chen
    ("Zurich", "location", 3),
    ("Redis", "tool", 2),                 # singleton
]


@pytest.fixture(scope="module")
def mentions_df(spark):
    rows = []
    for i, (text, label, n) in enumerate(MENTIONS):
        for j in range(n):
            rows.append(
                Row(conv_id=f"c{j}", turn_idx=i, start=0, end=len(text),
                    text=text, label=label, score=0.9)
            )
    return spark.createDataFrame(rows)


def test_surface_table(spark, mentions_df):
    st = {r.surface: (r.n_mentions, r.ent_type)
          for r in surface_table(mentions_df).collect()}
    assert st["Acme Corp"] == (5, "organization")
    assert st["Redis"] == (2, "tool")
    assert len(st) == len(MENTIONS)


def test_minhash_identical_normalized_surfaces_have_equal_sigs(spark, mentions_df):
    sigs = {r.surface: tuple(r.sig)
            for r in minhash_signatures(surface_table(mentions_df)).collect()}
    assert sigs["Acme Corp"] == sigs["acme-corp"]
    assert sigs["Alice Chen"] == sigs["alice chen"]
    assert sigs["Acme Corp"] != sigs["Zurich"]
    assert all(len(s) == 64 for s in sigs.values())


def test_sig_expr_matches_column_composition(spark, mentions_df):
    """minhash_sig_expr (one parsed SQL expression) must produce values
    identical to composing one array_min Column per permutation — the
    SQL form exists only to kill ~2 s of py4j expression-construction
    driver overhead per query, never to change a single signature
    value."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.linking import (
        _MERSENNE,
        _base_hashes,
        _perm_coeffs,
        shingle_set,
    )

    def perm_min(hs, a, b):
        return F.array_min(
            F.transform(
                hs, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE))
            )
        )

    surfaces = surface_table(mentions_df)
    hashes = _base_hashes(shingle_set(F.col("surface"), 3), 42)
    with_h = surfaces.select("surface_id", hashes.alias("_hs"))
    old = {
        r.surface_id: r.sig
        for r in with_h.select(
            "surface_id",
            F.array(
                *[perm_min(F.col("_hs"), a, b) for a, b in _perm_coeffs(64, 42)]
            ).alias("sig"),
        ).collect()
    }
    new = {
        r.surface_id: r.sig
        for r in minhash_signatures(surfaces, 64, 3, 42).collect()
    }
    assert new == old


def test_numpy_sig_matches_sig_expr(spark):
    """canonicalize's one-task signature (`_minhash_sig_np`, numpy over
    the Arrow list offsets) equals minhash_sig_expr over the same base
    hashes, on one-shingle, non-ASCII and NULL surfaces, and on a sliced
    list array whose offsets do not start at 0."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    from gliner_spark.operators.linking import (
        _base_hashes,
        _minhash_sig_np,
        minhash_sig_expr,
        shingle_set,
    )

    surfaces = spark.createDataFrame(
        [(s,) for s in ["x", "", "Zoë  Ltd", "東京タワー", None, "Acme Corp"]],
        "surface string",
    )
    rows = (
        surfaces.select(
            "surface",
            _base_hashes(shingle_set(F.col("surface"), 3), 42).alias("_hs"),
        )
        .select("surface", "_hs", minhash_sig_expr("_hs", 64, 42).alias("sig"))
        .collect()
    )
    by_surface = {r.surface: r for r in rows}
    assert len(by_surface["x"]._hs) == len(by_surface[None]._hs) == 1
    hs = pa.array([r._hs for r in rows], pa.list_(pa.int64()))
    want = np.array([r.sig for r in rows], dtype=np.int64)
    assert np.array_equal(_minhash_sig_np(hs, 64, 42), want)
    assert np.array_equal(_minhash_sig_np(hs.slice(2), 64, 42), want[2:])


def test_lsh_finds_identical_normalized_pairs(spark, mentions_df):
    sigs = minhash_signatures(surface_table(mentions_df))
    ids = {r.surface: r.surface_id for r in sigs.collect()}
    pairs = {(r.id_a, r.id_b) for r in candidate_pairs(sigs).collect()}

    def pair(a, b):
        return (min(ids[a], ids[b]), max(ids[a], ids[b]))

    assert pair("Acme Corp", "acme-corp") in pairs
    assert pair("Alice Chen", "alice chen") in pairs


def test_verified_pairs_match_python_jaccard(spark, mentions_df):
    surfaces = surface_table(mentions_df)
    sigs = minhash_signatures(surfaces)
    pairs = candidate_pairs(sigs)
    got = {(r.surface_a, r.surface_b): r.jaccard
           for r in verified_pairs(pairs, surfaces, 0.3).collect()}
    for (a, b), j in got.items():
        assert abs(j - _jaccard(a, b)) < 1e-9
        assert j >= 0.3


def test_connected_components_chain(spark, side):
    verts = spark.createDataFrame([Row(id=s) for s in "abcdef"])
    edges = spark.createDataFrame(
        [Row(id_a="a", id_b="b"),
         Row(id_a="b", id_b="c"),
         Row(id_a="d", id_b="e")]
    )
    comp = {r.id: r.component
            for r in side(lambda: connected_components(verts, edges))}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_connected_components_long_chain(spark, side):
    """O(log n) star convergence on a 40-node path graph (the diameter
    case that killed plain label propagation); `side` runs the
    distributed star rounds as well as the one-task union-find."""
    n = 40
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n - 1)]
    )
    comp = {r.id: r.component
            for r in side(lambda: connected_components(verts, edges))}
    assert set(comp.values()) == {0}


def test_connected_components_local_solver_matches_star(spark, side):
    """The one-task union-find side and the distributed star side must
    produce identical memberships — random multi-component graphs with
    duplicate and self edges."""
    import random

    rng = random.Random(3)
    n = 120
    edges_py = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(150)
    ]
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in edges_py]
    )
    local = {r.id: r.component
             for r in side(lambda: connected_components(verts, edges))}
    # oracle: python union-find over the same edges
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}
    assert local == expected


def test_connected_components_sides_agree_on_edge_cases(spark, edge_case, side):
    """Empty, self-loop-only and int32 edge sets plus an isolated vertex:
    equal rows and equal schemas on both sides."""
    from pyspark.sql import functions as F

    verts = (
        edge_case.select(F.col("src").alias("id"))
        .union(edge_case.select("dst"))
        .union(spark.range(99, 100).select(F.col("id").cast("int")))
        .distinct()
    )
    got = side(
        lambda: connected_components(verts, edge_case, edge_cols=("src", "dst"))
    )
    comp = {r.id: r.component for r in got}
    want = {v: v for v in comp}
    pairs = edge_case.collect()
    for _ in comp:  # min-label propagation to its fixpoint
        for a, b in pairs:
            want[a] = want[b] = min(want[a], want[b])
    assert comp == want and comp[99] == 99


def test_canonicalize_end_to_end(spark, mentions_df):
    cm = canonicalize(mentions_df, jaccard_threshold=0.5).collect()
    by_surface = {r.surface: r for r in cm}
    # acme-corp normalizes identically to Acme Corp → same entity; canonical
    # is the most-mentioned surface
    assert by_surface["acme-corp"].canonical == "Acme Corp"
    assert by_surface["acme-corp"].entity_id == by_surface["Acme Corp"].entity_id
    assert by_surface["alice chen"].canonical == "Alice Chen"
    # singletons canonicalize to themselves
    assert by_surface["Redis"].canonical == "Redis"
    assert by_surface["Zurich"].canonical == "Zurich"
    # deterministic across runs
    cm2 = canonicalize(mentions_df, jaccard_threshold=0.5).collect()
    assert sorted(map(tuple, cm)) == sorted(map(tuple, cm2))


def test_rewrite_triples(spark, mentions_df):
    cm = canonicalize(mentions_df, jaccard_threshold=0.5)
    triples = spark.createDataFrame(
        [Row(conv_id="c0", turn_idx=0, subj="acme-corp", pred="uses",
             obj="Redis", score=0.8, start=0, end=5),
         Row(conv_id="c0", turn_idx=1, subj="Unknown Surface", pred="uses",
             obj="alice chen", score=0.7, start=0, end=5)]
    )
    out = {(r.subj, r.obj): (r.subj_canonical, r.obj_canonical)
           for r in rewrite_triples(triples, cm).collect()}
    assert out[("acme-corp", "Redis")] == ("Acme Corp", "Redis")
    # unlinked surfaces pass through as their own canonical
    assert out[("Unknown Surface", "alice chen")] == (
        "Unknown Surface", "Alice Chen")


def test_rewrite_plan_broadcasts_map(spark, mentions_df):
    cm = canonicalize(mentions_df, jaccard_threshold=0.5)
    triples = spark.createDataFrame(
        [Row(conv_id="c0", turn_idx=0, subj="acme-corp", pred="uses",
             obj="Redis", score=0.8, start=0, end=5)]
    )
    plan = (
        rewrite_triples(triples, cm)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def _mentions(spark, rows):
    """(text, label, n) triples → n mention rows each, mentions_df's shape."""
    return spark.createDataFrame(
        [
            (f"c{j}", i, 0, len(text or ""), text, label, 0.9)
            for i, (text, label, n) in enumerate(rows)
            for j in range(n)
        ],
        "conv_id string, turn_idx long, start long, end long, text string,"
        " label string, score double",
    )


def _variant_rows():
    """Company-name families with spelling and suffix variants, so a low
    threshold merges many surfaces into multi-member components."""
    bases = ["Acme", "Globex", "Initech", "Umbrella", "Hooli", "Vandelay",
             "Stark", "Wayne", "Wonka", "Tyrell"]
    suffixes = ["Corp", "Corporation", "Inc", "Industries", "Ltd", "Group"]
    rows = []
    for i, b in enumerate(bases):
        for j, s in enumerate(suffixes):
            rows.append((f"{b} {s}", "organization", 1 + (i + j) % 4))
            rows.append((f"{b.lower()}-{s.lower()}", "organization", 1))
            rows.append((f"{b}{s}", "tool", 1 + (i * j) % 3))
    return rows


def _canonical_rows(mentions, **kw):
    from collections import Counter

    return Counter(map(tuple, canonicalize(mentions, **kw).collect()))


def _both_sides(side, mentions, **kw):
    """canonicalize's rows with the gate forced to each side (the `side`
    fixture): only the first run takes the single-task path, and both
    return the same schema and row set."""
    from collections import Counter

    from gliner_spark.operators import linking
    from gliner_spark.plans import iterate

    return Counter(map(tuple, side(
        lambda: canonicalize(mentions, **kw),
        gate=(iterate, "SMALL_SOLVE", (linking, "_canonical_local")),
    )))


def test_canonicalize_sides_agree_on_fixture(spark, mentions_df, side):
    for threshold in (0.6, 0.5, 0.3):
        got = _both_sides(side, mentions_df, jaccard_threshold=threshold)
        assert len(got) == len(MENTIONS)


def test_canonicalize_sides_agree_with_many_merges(spark, side):
    rows = _variant_rows()
    got = _both_sides(
        side, _mentions(spark, rows), jaccard_threshold=0.3
    )
    assert len(got) == len(rows)
    n_entities = len({r[1] for r in got})
    assert n_entities <= len(rows) // 2, n_entities


def test_canonicalize_sides_agree_with_bucket_cap(spark, side):
    """max_bucket_size=2 drops most buckets of the variant families; the
    cap must bite (fewer merges than uncapped) identically on both
    sides."""
    mentions = _mentions(spark, _variant_rows())
    capped = _both_sides(
        side, mentions, jaccard_threshold=0.3, max_bucket_size=2
    )
    uncapped = _canonical_rows(mentions, jaccard_threshold=0.3)
    assert len({r[1] for r in capped}) > len({r[1] for r in uncapped})


def test_canonicalize_sides_agree_on_empty_mentions(
    spark, mentions_df, side
):
    assert _both_sides(side, mentions_df.limit(0)) == {}


def test_canonicalize_sides_agree_with_null_surface(spark, side):
    got = _both_sides(
        side,
        _mentions(spark, [(None, "person", 3), ("Acme Corp", "organization", 2),
                          ("acme corp", "organization", 1)]),
    )
    null = [r for r in got if r[0] is None]
    assert len(null) == 1 and null[0][2] is None


def test_canonicalize_sides_agree_on_null_type_tie(spark, side):
    """One component whose two surfaces tie on n_mentions, one with a
    null ent_type: Spark's struct order puts null lowest, so the typed
    surface's label wins (a plain Python tuple compare would raise)."""
    got = _both_sides(
        side,
        _mentions(spark, [("Acme Corp", None, 3),
                          ("acme-corp", "organization", 3)]),
    )
    assert {(r[0], r[2], r[3]) for r in got} == {
        ("Acme Corp", "acme-corp", "organization"),
        ("acme-corp", "acme-corp", "organization"),
    }


def test_canonicalize_sides_agree_on_non_ascii_tie(spark, side):
    """Canonical ties between non-ASCII surfaces that normalize alike
    break by Spark's binary (UTF-8 byte) string order: ë (C3 AB) above
    Ë (C3 8B), and "Zoë Ltd" above "Zoë  Ltd"."""
    rows = [("Zoë  Ltd", "organization", 2), ("ZoË Ltd", "organization", 2),
            ("Zoë Ltd", "organization", 2), ("ZOË-LTD", "organization", 2)]
    got = _both_sides(side, _mentions(spark, rows))
    assert {r[2] for r in got} == {"Zoë Ltd"}


def test_canonicalize_job_count(spark, mentions_df):
    """canonicalize plus a noop write on a small input runs 5 Spark jobs
    (measured at local[4], AQE on): the surface-table checkpoint with the
    count the gate reads, then the single-task canonical pass. Before the
    single-task side existed this call ran 25 jobs here, every stage of
    the distributed chain (band checkpoint, bucket filter and pair join,
    verify joins, edge checkpoint and count, union-find finisher,
    canonical joins)."""
    from test_pipeline_resume import _n_jobs

    n = _n_jobs(
        spark,
        lambda: canonicalize(mentions_df)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    assert n == 5
