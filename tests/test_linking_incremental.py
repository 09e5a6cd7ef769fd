"""Incremental canonicalization vs a batch rerun: exact row-set parity,
including entity merges, canonical flips from count bumps, and the
degenerate shard shapes (known-only, novel-only)."""

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gliner_spark.operators.linking import canonicalize
from gliner_spark.operators.linking_incremental import (
    build_linking_state,
    canonical_map_from_state,
    canonicalize_increment,
    committed_generations,
)
from gliner_spark.plans import commit

# small-perm params so every planted pair is LSH-caught with certainty
# ~(1-(1-J)^16): rows_per_band=1 at J >= 0.5 misses with p < 2e-5, and
# the fixed seed makes the outcome deterministic either way
PARAMS = dict(
    n_perms=16,
    n_bands=16,
    shingle_n=3,
    jaccard_threshold=0.5,
    seed=42,
    max_bucket_size=None,  # caps make candidates occupancy-dependent
)

CORPUS = [
    ("Acme Corp", "organization", 5),
    ("acme-corp", "organization", 3),   # J=1.0 with Acme Corp
    ("Alpha Beta", "organization", 4),  # J=0.25 with Beta Gamma: separate
    ("Beta Gamma", "organization", 3),
    ("Zurich", "location", 3),
    ("Redis", "tool", 2),
]

SHARD = [
    # bridge: J=0.625 with BOTH Alpha Beta and Beta Gamma -> entity MERGE
    ("Alpha Beta Gamma", "organization", 1),
    # near-dup of Acme Corp (J=0.667) -> attaches to the Acme entity
    ("Acme Corpor", "organization", 1),
    # count bump 3->7 flips the Acme canonical pick AND the modal type
    ("acme-corp", "company", 4),
    # brand-new singleton entity
    ("Kubernetes", "tool", 2),
    # known-surface-only touch (no structural change)
    ("Zurich", "location", 1),
]


def _mentions(spark, spec):
    rows = []
    for i, (text, label, n) in enumerate(spec):
        for j in range(n):
            rows.append(
                Row(conv_id=f"c{j}", turn_idx=i, start=0, end=len(text),
                    text=text, label=label, score=0.9)
            )
    return spark.createDataFrame(rows)


def _rowset(df):
    return sorted(
        (r.surface, r.entity_id, r.canonical, r.ent_type,
         r.n_mentions, r.entity_mentions)
        for r in df.collect()
    )


def _drop_state(spark, store):
    shutil.rmtree(commit.store_dir(spark, store), ignore_errors=True)


def _canon_kwargs():
    return {k: v for k, v in PARAMS.items()}


def test_state_map_equals_batch(spark):
    corpus = _mentions(spark, CORPUS)
    _drop_state(spark, "lks")
    try:
        build_linking_state(corpus, "lks", **PARAMS)
        got = _rowset(canonical_map_from_state(spark, "lks"))
        want = _rowset(canonicalize(corpus, **_canon_kwargs()))
        assert got == want
        # generation 0 is committed, its marker carries the params
        store = commit.store_dir(spark, "lks")
        assert committed_generations(spark, "lks") == [0]
        with open(os.path.join(store, "_meta_g0.json")) as f:
            meta = json.load(f)
        assert meta == {
            k: v for k, v in PARAMS.items() if k != "max_bucket_size"
        }
        assert sorted(os.listdir(os.path.join(store, "g0"))) == [
            "bands", "labels", "surfaces"
        ]
    finally:
        _drop_state(spark, "lks")


def test_increment_matches_batch_rerun(spark):
    corpus = _mentions(spark, CORPUS)
    shard = _mentions(spark, SHARD)
    _drop_state(spark, "lki")
    try:
        build_linking_state(corpus, "lki", **PARAMS)
        inc = canonicalize_increment(
            shard, "lki", "lki", 1, max_bucket_size=None
        )
        got = _rowset(inc)
        want = _rowset(
            canonicalize(corpus.unionByName(shard), **_canon_kwargs())
        )
        assert got == want

        by_surface = {r[0]: r for r in got}
        # the bridge merged the two old entities: all three share one id
        ids = {by_surface[s][1]
               for s in ("Alpha Beta", "Beta Gamma", "Alpha Beta Gamma")}
        assert len(ids) == 1
        assert by_surface["Alpha Beta"][5] == 4 + 3 + 1  # entity_mentions
        # the count bump flipped the Acme canonical and entity type
        assert by_surface["Acme Corp"][2] == "acme-corp"
        assert by_surface["Acme Corp"][3] == "company"
        assert by_surface["Acme Corpor"][2] == "acme-corp"  # attached
        # brand-new singleton
        assert by_surface["Kubernetes"][2] == "Kubernetes"
        # untouched entity passes through unchanged
        assert by_surface["Redis"][2] == "Redis"
        assert by_surface["Zurich"][4] == 4  # 3 + 1 count bump
        # the committed generation reads back as the same map
        assert committed_generations(spark, "lki") == [0, 1]
        assert _rowset(canonical_map_from_state(spark, "lki")) == got
    finally:
        _drop_state(spark, "lki")


@pytest.mark.parametrize(
    "shard_spec",
    [
        [("Zurich", "location", 2)],          # known-only: no new surfaces
        [("Prometheus", "tool", 1)],          # novel-only: no anchors
    ],
    ids=["known_only", "novel_only"],
)
def test_increment_degenerate_shards(spark, shard_spec):
    corpus = _mentions(spark, CORPUS)
    shard = _mentions(spark, shard_spec)
    _drop_state(spark, "lkd")
    try:
        build_linking_state(corpus, "lkd", **PARAMS)
        got = _rowset(canonicalize_increment(shard, "lkd", "lkd", 1,
                                             max_bucket_size=None))
        want = _rowset(
            canonicalize(corpus.unionByName(shard), **_canon_kwargs())
        )
        assert got == want
    finally:
        _drop_state(spark, "lkd")


def test_increments_chain_through_written_state(spark):
    """Each increment commits a new generation, so a second shard
    probing the store sees the first folded in — two chained increments
    equal one batch run over corpus ∪ shard1 ∪ shard2."""
    corpus = _mentions(spark, CORPUS)
    shard1 = _mentions(spark, SHARD)
    # shard2 touches shard1's output: re-mentions the merged entity's
    # bridge, near-dups the gen-1-new Kubernetes, and adds a novel one
    shard2 = _mentions(
        spark,
        [
            ("Alpha Beta Gamma", "organization", 3),
            ("Kubernetes Inc", "organization", 1),
            ("Grafana", "tool", 1),
        ],
    )
    _drop_state(spark, "lkch")
    try:
        build_linking_state(corpus, "lkch", **PARAMS)
        got1 = _rowset(
            canonicalize_increment(
                shard1, "lkch", "lkch", 1, max_bucket_size=None
            )
        )
        got = _rowset(
            canonicalize_increment(
                shard2, "lkch", "lkch", 2, max_bucket_size=None
            )
        )
        want = _rowset(
            canonicalize(
                corpus.unionByName(shard1).unionByName(shard2),
                **_canon_kwargs(),
            )
        )
        assert got == want
        assert _rowset(canonical_map_from_state(spark, "lkch")) == want
        # the written generation 1 map equals batch over corpus ∪ shard1
        want1 = _rowset(
            canonicalize(corpus.unionByName(shard1), **_canon_kwargs())
        )
        assert got1 == want1
    finally:
        _drop_state(spark, "lkch")


def test_state_map_join_exchange_free(spark):
    """The map read is one scan of the surfaces part, which carries its
    component's entity columns: it never reshuffles."""
    corpus = _mentions(spark, CORPUS)
    _drop_state(spark, "lkp")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        build_linking_state(corpus, "lkp", **PARAMS)
        out = canonical_map_from_state(spark, "lkp")
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in plan.split("\n\n")[0], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        _drop_state(spark, "lkp")
