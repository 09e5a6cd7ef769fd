"""Streaming canonicalization: per-micro-batch folds equal one batch run
over everything ever seen, also across driver restarts; replayed batch
ids, empty batches and crash-orphaned partials are no-ops; generations
rotate and prune."""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import Row

from gliner_spark.operators.linking import canonicalize
from gliner_spark.operators.linking_incremental import (
    build_linking_state,
    canonical_map_from_state,
)
from gliner_spark.plans import commit
from gliner_spark.streaming.linking import (
    committed_generations,
    current_store,
    fold_mention_batch,
    stream_canonicalize,
)

PARAMS = dict(
    n_perms=16,
    n_bands=16,
    shingle_n=3,
    jaccard_threshold=0.5,
    seed=42,
    max_bucket_size=None,
)

CORPUS = [
    ("Acme Corp", "organization", 5),
    ("acme-corp", "organization", 3),
    ("Alpha Beta", "organization", 4),
    ("Beta Gamma", "organization", 3),
    ("Zurich", "location", 3),
]

SHARD_FILES = [
    # one file per micro-batch (maxFilesPerTrigger=1)
    [("Alpha Beta Gamma", "organization", 1), ("Kubernetes", "tool", 2)],
    [("acme-corp", "company", 4), ("Zurich", "location", 1)],
    [("Kubernetes Inc", "organization", 1), ("Grafana", "tool", 1)],
]


def _mentions(spark, spec):
    rows = []
    for i, (text, label, n) in enumerate(spec):
        for j in range(n):
            rows.append(Row(text=text, label=label))
    return spark.createDataFrame(rows, "text string, label string")


def _rowset(df):
    return sorted(
        (r.surface, r.entity_id, r.canonical, r.ent_type,
         r.n_mentions, r.entity_mentions)
        for r in df.collect()
    )


def _drop_all(spark, stores):
    for s in stores:
        shutil.rmtree(commit.store_dir(spark, s), ignore_errors=True)


def _everything(spark, specs):
    out = _mentions(spark, CORPUS)
    for spec in specs:
        out = out.unionByName(_mentions(spark, spec))
    return out


def test_stream_canonicalize_parity_and_idempotent_restart(
    spark, tmp_path_factory
):
    land = str(tmp_path_factory.mktemp("slk_land"))
    ckpt = str(tmp_path_factory.mktemp("slk_ckpt"))
    corpus = _mentions(spark, CORPUS)
    _drop_all(spark, ("slki", "slkg"))
    try:
        assert current_store(spark, "slkg", "slki") == "slki"
        build_linking_state(corpus, "slki", **PARAMS)
        for i, spec in enumerate(SHARD_FILES):
            _mentions(spark, spec).coalesce(1).write.parquet(f"{land}/f{i}")

        def run():
            stream = (
                spark.readStream.schema("text string, label string")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{land}/f*")
            )
            q = stream_canonicalize(
                stream, "slki", "slkg", ckpt,
                keep_generations=2, max_bucket_size=None,
            )
            q.awaitTermination(600)

        run()
        gens = committed_generations(spark, "slkg")
        assert len(gens) == 2  # pruned to keep_generations
        store = commit.store_dir(spark, "slkg")
        assert sorted(os.listdir(store)) == sorted(
            [f"g{g}" for g in gens] + [f"_meta_g{g}.json" for g in gens]
        )
        cur = current_store(spark, "slkg", "slki")
        assert cur == "slkg"

        want = _rowset(canonicalize(_everything(spark, SHARD_FILES), **PARAMS))
        assert _rowset(canonical_map_from_state(spark, cur)) == want

        # restart on the same checkpoint: no new files -> nothing folds
        run()
        assert committed_generations(spark, "slkg") == gens
        assert _rowset(canonical_map_from_state(spark, cur)) == want

        # direct re-delivery of an already-committed batch id: no-op
        replay = _mentions(spark, SHARD_FILES[-1])
        assert fold_mention_batch(
            replay, gens[-1], "slki", "slkg", max_bucket_size=None
        ) is False
        assert _rowset(canonical_map_from_state(spark, cur)) == want
        # empty batch: also a no-op, commits nothing
        assert fold_mention_batch(
            replay.limit(0), 99, "slki", "slkg", max_bucket_size=None
        ) is False
        assert committed_generations(spark, "slkg") == gens
    finally:
        _drop_all(spark, ("slki", "slkg"))


def test_fold_crash_before_marker_then_replay(spark, monkeypatch):
    """A fold killed before its marker leaves a markerless generation
    dir that canonical_map_from_state ignores; the replay of that batch
    id folds the batch again and commits it."""
    _drop_all(spark, ("slci", "slcg"))
    try:
        build_linking_state(_mentions(spark, CORPUS), "slci", **PARAMS)
        assert fold_mention_batch(
            _mentions(spark, SHARD_FILES[0]), 0, "slci", "slcg",
            max_bucket_size=None,
        )
        want0 = _rowset(
            canonicalize(_everything(spark, SHARD_FILES[:1]), **PARAMS)
        )

        def crash(*a, **k):
            raise OSError("injected crash before the marker")

        monkeypatch.setattr(commit, "write_text", crash)
        batch = _mentions(spark, SHARD_FILES[1])
        with pytest.raises(OSError, match="injected crash"):
            fold_mention_batch(
                batch, 1, "slci", "slcg", max_bucket_size=None
            )
        monkeypatch.undo()
        store = commit.store_dir(spark, "slcg")
        assert os.path.isdir(os.path.join(store, "g1", "surfaces"))
        assert committed_generations(spark, "slcg") == [0]
        assert _rowset(canonical_map_from_state(spark, "slcg")) == want0

        assert fold_mention_batch(
            batch, 1, "slci", "slcg", max_bucket_size=None
        ) is True
        assert committed_generations(spark, "slcg") == [0, 1]
        assert _rowset(canonical_map_from_state(spark, "slcg")) == _rowset(
            canonicalize(_everything(spark, SHARD_FILES[:2]), **PARAMS)
        )
    finally:
        _drop_all(spark, ("slci", "slcg"))


# one driver process: build the init store if asked, fold one batch into
# the stream store under a warehouse, print the current map as JSON
_FOLD_IN_NEW_DRIVER = """
import json, sys
from pyspark.sql import SparkSession
from gliner_spark.operators.linking_incremental import (
    build_linking_state, canonical_map_from_state,
)
from gliner_spark.streaming.linking import fold_mention_batch
wh, batch_id, corpus, batch, params = sys.argv[1:]
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.sql.warehouse.dir", wh)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
params = json.loads(params)


def mentions(spec):
    rows = [(t, lab) for t, lab, n in spec for _ in range(n)]
    return spark.createDataFrame(rows, "text string, label string")


if json.loads(corpus):
    build_linking_state(mentions(json.loads(corpus)), "slri", **params)
assert fold_mention_batch(
    mentions(json.loads(batch)), int(batch_id), "slri", "slrg",
    max_bucket_size=None,
)
rows = canonical_map_from_state(spark, "slrg").collect()
print(json.dumps([list(r) for r in rows]))
spark.stop()
"""


def test_fold_survives_driver_restart(spark, tmp_path):
    """Batch 0 and batch 1 fold in two separate driver processes that
    share only the warehouse directory: the second finds the first's
    generation, so its map equals batch canonicalize over the corpus and
    both batches (not over the corpus and batch 1 alone)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    wh = str(tmp_path / "warehouse")
    for i in (0, 1):
        corpus = CORPUS if i == 0 else []
        run = subprocess.run(
            [sys.executable, "-c", _FOLD_IN_NEW_DRIVER, wh, str(i),
             json.dumps(corpus), json.dumps(SHARD_FILES[i]),
             json.dumps(PARAMS)],
            cwd=root, env=env, capture_output=True, text=True, timeout=600,
        )
        assert run.returncode == 0, run.stderr[-3000:]
    got = sorted(
        map(tuple, json.loads(run.stdout.strip().splitlines()[-1]))
    )
    want = _rowset(canonicalize(_everything(spark, SHARD_FILES[:2]), **PARAMS))
    assert got == want
