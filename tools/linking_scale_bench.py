"""Incremental canonicalization at scale: build linking state over a
200k-surface corpus once, then fold in a 2k-surface shard and compare
against the alternative it replaces — a full batch re-canonicalization
over corpus ∪ shard.

Corpus: 200,000 distinct surfaces from pure native expressions (two
50k-vocabulary hash words), 10% of them near-dup variants (base + " inc",
J ≈ 0.73 ≥ the 0.6 threshold) so the state holds real multi-member
components. Mentions repeat each surface 1-3×. Shard: 1,000 new variants
of existing bases (attach/merge work) + 1,000 novel surfaces (no-match
work).

Prints ONE JSON line: state-build wall, increment wall (the new
generation committed and its full map read back), batch-rerun wall, and
the speedup. The increment's output row count is asserted equal to the
batch rerun's. The linking store lives under the Spark warehouse and is
removed at the end.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gliner_spark.plans.session import build_session  # noqa: E402

N = int(os.environ.get("LINK_N", 200_000))
N_SHARD_VARIANT = int(os.environ.get("LINK_SHARD", 1000))


def _surface_expr(prefix: str):
    return (
        f"concat('w', pmod(xxhash64('{prefix}a', id), 50000),"
        f" ' w', pmod(xxhash64('{prefix}b', id), 50000))"
    )


def synth_mentions(spark, n: int):
    # base surfaces; every 10th id also emits a near-dup variant
    base = spark.range(n).select(
        F.expr(_surface_expr("s")).alias("text"),
        F.expr("concat('type', pmod(id, 7))").alias("label"),
        F.col("id"),
    )
    variants = base.where(F.col("id") % 10 == 0).select(
        F.concat(F.col("text"), F.lit(" inc")).alias("text"),
        "label",
        "id",
    )
    surfaces = base.unionByName(variants)
    # 1-3 mentions per surface
    return surfaces.select(
        "text",
        "label",
        F.explode(F.expr("sequence(0, cast(pmod(id, 3) as int))")).alias("_r"),
    ).drop("_r")


def synth_shard(spark, n_corpus: int, n_variant: int):
    variant = spark.range(n_variant).select(
        F.expr(
            f"concat({_surface_expr('s').replace('id', 'id * 37 + 1')}, ' ltd')"
        ).alias("text"),
        F.expr("concat('type', pmod(id, 7))").alias("label"),
    )
    novel = spark.range(n_variant).select(
        F.expr(_surface_expr("z")).alias("text"),
        F.lit("type_new").alias("label"),
    )
    return variant.unionByName(novel)


def main():
    from gliner_spark.operators.linking import canonicalize
    from gliner_spark.operators.linking_incremental import (
        build_linking_state,
        canonicalize_increment,
    )
    from gliner_spark.plans import commit

    spark = build_session(app_name="linking-scale", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    mentions = synth_mentions(spark, N).localCheckpoint()
    n_mentions = mentions.count()
    shard = synth_shard(spark, N, N_SHARD_VARIANT).localCheckpoint()
    n_shard = shard.count()

    t0 = time.time()
    build_linking_state(mentions, "linking_scale_bench")
    build_s = time.time() - t0

    t0 = time.time()
    n_inc = canonicalize_increment(
        shard, "linking_scale_bench", "linking_scale_bench", 1
    ).count()
    inc_s = time.time() - t0

    t0 = time.time()
    n_batch = canonicalize(mentions.unionByName(shard)).count()
    batch_s = time.time() - t0
    assert n_inc == n_batch, (n_inc, n_batch)

    print(
        json.dumps(
            {
                "metric": "linking_increment",
                "n_surfaces_corpus": N + N // 10,
                "n_mentions": n_mentions,
                "n_shard_mentions": n_shard,
                "state_build_wall_s": round(build_s, 1),
                "increment_wall_s": round(inc_s, 1),
                "batch_rerun_wall_s": round(batch_s, 1),
                "speedup_vs_rerun": round(batch_s / inc_s, 2),
                "map_rows": int(n_inc),
            }
        )
    )
    shutil.rmtree(
        commit.store_dir(spark, "linking_scale_bench"), ignore_errors=True
    )


if __name__ == "__main__":
    main()
