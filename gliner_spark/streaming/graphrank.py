"""Streaming PageRank maintenance: fold edge micro-batches into an
append-only shard store and refresh ranks warm-started from the
previous generation — the live-ingest side of graph analytics over the
continuously-growing KG edge table.

Storage protocol (plans/commit.py's marker-last commit). The store is
the directory `<warehouse>/<gen_base>`, so a new driver finds every
committed generation where the last one left it:

 * each micro-batch writes an IMMUTABLE edge shard, the parquet dir
   `e{batch_id}` (overwrite mode — Structured Streaming replays a
   batch_id with identical content, so a re-delivery rewrites the
   same bytes instead of duplicating). Shards are the corpus: they
   are NEVER pruned.
 * a rank generation is the parquet dir `b{batch_id}` (the converged
   PageRank over every edge folded so far) plus its marker
   `_meta_b{batch_id}.json`, which carries the generation's shard list
   and is written LAST: a generation is COMMITTED iff its marker
   exists, so a crash anywhere leaves either a fully-visible old state
   or an invisible partial one, and an orphan shard no committed
   marker lists is simply ignored by readers.
 * on (re)delivery of a committed batch_id the fold is skipped —
   exactly-once rank refresh; rank generations beyond
   `keep_generations` are GC'd with `commit.drop_dead` (pure GC: the
   shard list rides in every marker, so pruning ranks loses nothing).

The refresh itself is `graph.pagerank(init_ranks=prev)`, warm-started
from the previous generation's ranks. That saves rounds only when an
append moves the fixpoint little; it is not guaranteed (a 3-edge batch
can need more warm rounds than a cold start, see `graph.pagerank`).
So the fold stops on `tol` alone: its round bound comes from the L1
contraction (see `fold_edge_batch`), never a guessed cap. Invariant
pinned in test_streaming_graphrank.py: the current ranks equal a COLD
pagerank over the union of all folded shards at the same tolerance —
streaming is an optimization, never a different answer — also when
consecutive batches fold in different driver processes.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import pagerank
from ..plans import commit

_MARKER = "_meta_b{}.json"
_RANKS = "b{}"
_SHARD = "e{}"
_EDGES = "src long, dst long"
_RANK_SCHEMA = "entity_id long, rank double"


def committed_generations(spark: SparkSession, gen_base: str) -> list[int]:
    """Batch ids with a COMMITTED rank generation, ascending."""
    store = commit.store_dir(spark, gen_base)
    return sorted(commit.committed(store, _MARKER))


def current_ranks(spark: SparkSession, gen_base: str) -> DataFrame | None:
    """(entity_id, rank) of the newest committed generation, or None
    before any batch has folded."""
    gens = committed_generations(spark, gen_base)
    if not gens:
        return None
    store = commit.store_dir(spark, gen_base)
    path = os.path.join(store, _RANKS.format(gens[-1]))
    return spark.read.schema(_RANK_SCHEMA).parquet(path)


def fold_edge_batch(
    batch_df: DataFrame,
    batch_id: int,
    gen_base: str,
    keep_generations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    tol: float = 1e-9,
) -> bool:
    """One idempotent fold step (the foreachBatch body, exposed for
    direct testing). Returns True if the batch was folded, False if it
    was skipped as already committed or empty.

    The refresh runs until the L1 delta is below `tol`. Its round bound
    guarantees that from any start: two rank vectors are at most 2
    apart in L1 and each round contracts the delta by `damping`, so
    round k's delta is at most 2·d^(k−1), below tol/2 after
    ⌈log(tol/4)/log(d)⌉ + 1 rounds (138 at the defaults)."""
    if not (0 < damping < 1 and tol > 0):
        raise ValueError("need 0 < damping < 1 and tol > 0")
    spark = batch_df.sparkSession
    store = commit.store_dir(spark, gen_base)
    gens = commit.committed(store, _MARKER)
    if batch_id in gens or batch_df.isEmpty():
        return False
    batch_df.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).write.mode("overwrite").parquet(
        os.path.join(store, _SHARD.format(batch_id))
    )
    last = max(gens, default=None)
    shard_ids = (gens[last]["shards"] if gens else []) + [batch_id]
    all_edges = spark.read.schema(_EDGES).parquet(
        *(os.path.join(store, _SHARD.format(i)) for i in shard_ids)
    )
    prev = (
        spark.read.schema(_RANK_SCHEMA).parquet(
            os.path.join(store, _RANKS.format(last))
        )
        if gens
        else None
    )
    ranks = pagerank(
        all_edges,
        damping=damping,
        max_iter=math.ceil(math.log(tol / 4) / math.log(damping)) + 1,
        tol=tol,
        src_col="src",
        dst_col="dst",
        init_ranks=prev,
    )
    ranks.write.mode("overwrite").parquet(
        os.path.join(store, _RANKS.format(batch_id))
    )
    commit.write_text(
        store, _MARKER.format(batch_id), json.dumps({"shards": shard_ids})
    )
    # a single writer: every generation but the newest survivors is
    # dead, and so is any markerless rank dir a crashed fold left
    survivors = sorted([*gens, batch_id])[-max(keep_generations, 1):]
    commit.drop_dead(store, _MARKER, _RANKS, lambda g: g not in survivors)
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
