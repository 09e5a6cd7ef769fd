"""Streaming PageRank maintenance: fold edge micro-batches into an
append-only shard store and refresh ranks warm-started from the
previous generation — the live-ingest side of graph analytics over the
continuously-growing KG edge table.

Storage protocol (the repo's marker-last commit discipline, same as
streaming/linking.py and streaming/bm25.py):

 * each micro-batch writes an IMMUTABLE edge shard table
   `{gen_base}_e{batch_id}` (overwrite mode — Structured Streaming
   replays a batch_id with identical content, so a re-delivery rewrites
   the same bytes instead of duplicating). Shards are the corpus: they
   are NEVER pruned.
 * a rank generation `{gen_base}_b{batch_id}` is two tables:
   `_ranks` (the converged PageRank over every edge folded so far) and
   `_meta` (one row per folded batch id — the authoritative shard
   list), with `_meta` written LAST: a generation is COMMITTED iff its
   meta exists, so a crash anywhere leaves either a fully-visible old
   state or an invisible partial one, and an orphan shard without a
   committed meta is simply ignored by readers.
 * on (re)delivery of a committed batch_id the fold is skipped —
   exactly-once rank refresh; old rank generations are dropped beyond
   `keep_generations` (pure GC: the shard list rides in every meta, so
   pruning ranks loses nothing).

The refresh itself is `graph.pagerank(init_ranks=prev)`: power
iteration contracts at the damping factor per round, so starting from
the previous generation's ranks (||old - new||_1 small after an
append) instead of uniform cuts rounds roughly by log(eps)/log(d).
Invariant pinned in test_streaming_graphrank.py: the current ranks
equal a COLD pagerank over the union of all folded shards at the same
tolerance — streaming is an optimization, never a different answer.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import pagerank
from .linking import _GEN, committed_generations


def current_ranks(spark: SparkSession, gen_base: str) -> DataFrame | None:
    """(entity_id, rank) of the newest committed generation, or None
    before any batch has folded."""
    gens = committed_generations(spark, gen_base)
    if not gens:
        return None
    return spark.table(f"{gen_base}{_GEN}{gens[-1]}_ranks")


def _folded_shards(spark: SparkSession, gen_base: str, gen: int) -> list[int]:
    return sorted(
        r.batch_id
        for r in spark.table(f"{gen_base}{_GEN}{gen}_meta").collect()
    )


def fold_edge_batch(
    batch_df: DataFrame,
    batch_id: int,
    gen_base: str,
    keep_generations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 60,
    tol: float = 1e-9,
) -> bool:
    """One idempotent fold step (the foreachBatch body, exposed for
    direct testing). Returns True if the batch was folded, False if it
    was skipped as already committed or empty."""
    spark = batch_df.sparkSession
    gens = committed_generations(spark, gen_base)
    if batch_id in gens or batch_df.isEmpty():
        return False
    edges = batch_df.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    edges.write.mode("overwrite").saveAsTable(f"{gen_base}_e{batch_id}")
    shard_ids = (
        _folded_shards(spark, gen_base, gens[-1]) if gens else []
    ) + [batch_id]
    all_edges = reduce(
        DataFrame.unionAll,
        (spark.table(f"{gen_base}_e{i}") for i in shard_ids),
    )
    prev = (
        spark.table(f"{gen_base}{_GEN}{gens[-1]}_ranks") if gens else None
    )
    ranks = pagerank(
        all_edges,
        damping=damping,
        max_iter=max_iter,
        tol=tol,
        src_col="src",
        dst_col="dst",
        init_ranks=prev,
    )
    out = f"{gen_base}{_GEN}{batch_id}"
    ranks.write.mode("overwrite").saveAsTable(f"{out}_ranks")
    # a pandas frame takes the Arrow path (a LocalRelation); a Python
    # list would be a pickled Python RDD, a worker job on every wave
    spark.createDataFrame(
        pd.DataFrame({"batch_id": shard_ids}, dtype="int64"), "batch_id long"
    ).write.mode("overwrite").saveAsTable(f"{out}_meta")  # commit marker
    survivors = (gens + [batch_id])[-max(keep_generations, 1):]
    for g in gens:
        if g not in survivors:
            for t in ("meta", "ranks"):  # marker first: dir-less != seen
                spark.sql(
                    f"drop table if exists {gen_base}{_GEN}{g}_{t}"
                )
    return True


def stream_pagerank(
    edge_stream: DataFrame,
    gen_base: str,
    checkpoint_dir: str,
    keep_generations: int = 2,
    **fold_kwargs,
):
    """Attach the fold to an edge stream (columns: src, dst — override
    via src_col/dst_col). Returns the StreamingQuery; read the ranks
    any time via `current_ranks(spark, gen_base)`."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_edge_batch(
            batch_df,
            batch_id,
            gen_base,
            keep_generations,
            **fold_kwargs,
        )

    return (
        edge_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
