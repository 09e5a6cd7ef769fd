"""Streaming PageRank maintenance: per-batch warm-started refreshes
equal a cold pagerank over everything ever folded, also across driver
restarts; replays, empty batches, and crash-orphaned partials are
no-ops; rank generations prune without losing the shard list."""

import json
import os
import subprocess
import sys

from pyspark.sql import Row

from gliner_spark.operators.graph import pagerank
from gliner_spark.streaming.graphrank import (
    committed_generations,
    current_ranks,
    fold_edge_batch,
    stream_pagerank,
)

# irregular degrees (a regular graph has trivially uniform ranks)
BATCHES = [
    sorted({((i * i + i) % 13, (i * 7 + 2) % 17) for i in range(40)}),
    [(0, 16), (16, 2), (5, 16)],
    [(16, 7), (3, 11), (11, 3)],
]
TOL = 1e-10
# appending a 3-edge cycle: the warm start needs more rounds than a cold
# run (134 against 27 at TOL), so a fixed round cap stops it short
SLOW_WARM = [
    [(0, 1), (1, 2), (2, 0), (2, 3), (3, 1), (4, 2)],
    [(3, 4), (4, 5), (5, 0)],
]


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in pairs]
    )


def _rank_map(df):
    return {r.entity_id: r.rank for r in df.collect()}


def _cold(spark, upto, batches=BATCHES):
    pairs = [p for b in batches[:upto] for p in b]
    return _rank_map(
        pagerank(
            _edges(spark, pairs), max_iter=100, tol=TOL,
            src_col="src", dst_col="dst",
        )
    )


def _assert_close(got, want, abs_tol=1e-7):
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) <= abs_tol, (k, got[k], v)


def _warehouse(spark):
    return spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")


def _drop_all(spark, base):
    import shutil

    # the store is plain parquet dirs under the warehouse: sweep every
    # dir with the prefix, including a killed previous run's leftovers
    wh = _warehouse(spark)
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d.startswith(base):
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def test_fold_parity_replay_crash_and_pruning(spark):
    base = "sgr"
    _drop_all(spark, base)  # stale state from a crashed run
    try:
        for i, b in enumerate(BATCHES):
            assert fold_edge_batch(
                _edges(spark, b), i, base, keep_generations=2, tol=TOL
            ) is True
            _assert_close(
                _rank_map(current_ranks(spark, base)), _cold(spark, i + 1)
            )
        want = _cold(spark, len(BATCHES))

        # pruned to keep_generations=2, shards all retained
        store = os.path.join(_warehouse(spark), base)
        assert committed_generations(spark, base) == [1, 2]
        assert {d for d in os.listdir(store) if d[0] in "be"} == {
            "b1", "b2", "e0", "e1", "e2"
        }

        # replay of a committed batch id: no-op, ranks unchanged
        assert fold_edge_batch(
            _edges(spark, BATCHES[2]), 2, base, tol=TOL
        ) is False
        # empty batch: no-op, commits nothing
        assert fold_edge_batch(
            _edges(spark, BATCHES[0]).limit(0), 9, base, tol=TOL
        ) is False
        assert committed_generations(spark, base) == [1, 2]
        _assert_close(_rank_map(current_ranks(spark, base)), want)

        # crash before the marker: an orphan shard + ranks dir without
        # marker is INVISIBLE (generation uncommitted, shard ignored)
        _edges(spark, [(90, 91)]).write.mode("overwrite").parquet(
            os.path.join(store, "e7")
        )
        current_ranks(spark, base).write.mode("overwrite").parquet(
            os.path.join(store, "b7")
        )
        assert committed_generations(spark, base) == [1, 2]
        _assert_close(_rank_map(current_ranks(spark, base)), want)
        # the replayed fold overwrites the partial and commits
        assert fold_edge_batch(
            _edges(spark, [(90, 91)]), 7, base, tol=TOL
        ) is True
        got = _rank_map(current_ranks(spark, base))
        pairs = [p for b in BATCHES for p in b] + [(90, 91)]
        _assert_close(
            got,
            _rank_map(pagerank(
                _edges(spark, pairs), max_iter=100, tol=TOL,
                src_col="src", dst_col="dst",
            )),
        )
    finally:
        _drop_all(spark, "sgr")


def test_warm_fold_stops_on_tol_not_a_round_cap(spark):
    base = "sgrw"
    _drop_all(spark, base)
    try:
        for i, b in enumerate(SLOW_WARM):
            assert fold_edge_batch(_edges(spark, b), i, base, tol=TOL)
            _assert_close(
                _rank_map(current_ranks(spark, base)),
                _cold(spark, i + 1, SLOW_WARM),
            )
    finally:
        _drop_all(spark, base)


def test_stream_pagerank_end_to_end_and_restart(
    spark, tmp_path_factory
):
    land = str(tmp_path_factory.mktemp("sgr_land"))
    ckpt = str(tmp_path_factory.mktemp("sgr_ckpt"))
    base = "sgrs"
    _drop_all(spark, base)  # stale state from a crashed run
    try:
        for i, b in enumerate(BATCHES):
            _edges(spark, b).coalesce(1).write.parquet(f"{land}/f{i}")

        def run():
            stream = (
                spark.readStream.schema("src long, dst long")
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{land}/f*")
            )
            q = stream_pagerank(
                stream, base, ckpt, keep_generations=1, tol=TOL
            )
            q.awaitTermination(600)

        run()
        gens = committed_generations(spark, base)
        assert len(gens) == 1  # pruned to keep_generations=1
        want = _cold(spark, len(BATCHES))
        _assert_close(_rank_map(current_ranks(spark, base)), want)

        # restart on the same checkpoint: no new files -> nothing folds
        run()
        assert committed_generations(spark, base) == gens
        _assert_close(_rank_map(current_ranks(spark, base)), want)
    finally:
        _drop_all(spark, "sgrs")


# one driver process: fold one batch into the store under a warehouse,
# print the current ranks as JSON
_FOLD_IN_NEW_DRIVER = """
import json, sys
from pyspark.sql import SparkSession
from gliner_spark.streaming.graphrank import current_ranks, fold_edge_batch
wh, base, batch_id, pairs, tol = sys.argv[1:]
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.sql.warehouse.dir", wh)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
batch = spark.createDataFrame(json.loads(pairs), "src long, dst long")
assert fold_edge_batch(batch, int(batch_id), base, tol=float(tol))
ranks = current_ranks(spark, base).collect()
print(json.dumps([[r.entity_id, r.rank] for r in ranks]))
spark.stop()
"""


def test_fold_survives_driver_restart(spark, tmp_path):
    """Batch 0 and batch 1 fold in two separate driver processes that
    share only the warehouse directory: the second finds the first's
    generation, so its ranks equal a cold pagerank over both batches
    (not over batch 1 alone)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    wh = str(tmp_path / "warehouse")
    for i in (0, 1):
        run = subprocess.run(
            [sys.executable, "-c", _FOLD_IN_NEW_DRIVER, wh, "sgrp", str(i),
             json.dumps(BATCHES[i]), str(TOL)],
            cwd=root, env=env, capture_output=True, text=True, timeout=600,
        )
        assert run.returncode == 0, run.stderr[-3000:]
    got = dict(map(tuple, json.loads(run.stdout.strip().splitlines()[-1])))
    _assert_close(got, _cold(spark, 2))
