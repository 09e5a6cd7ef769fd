"""Streaming entity canonicalization: fold each micro-batch of mentions
into the persisted linking state (operators/linking_incremental) —
the live-ingest side of the continuously-updating KG.

The stream store `gen_base` is a linking store under plans/commit.py's
marker-last protocol, keyed by the CHECKPOINTED batch_id:

 * generation `g{batch_id}` holds the state after folding batch_id; its
   marker `_meta_g{batch_id}.json` is written LAST, so a generation is
   COMMITTED iff its marker exists — a crash mid-write leaves a
   markerless directory that readers ignore and the replay overwrites.
 * on (re)delivery of batch_id: if its generation is already committed,
   the fold already happened → skip (Structured Streaming replays a
   batch_id with identical content, so skipping is exactly-once
   folding); otherwise fold FROM the newest committed generation of
   `gen_base` (or of the init store `init_store` before any) INTO
   `g{batch_id}`.
 * generations beyond `keep_generations` are GC'd with
   `commit.drop_dead`, with any markerless directory a crashed fold
   left. The init store is never touched.

The store is the directory `<warehouse>/<gen_base>`, so a new driver on
the same warehouse resumes from the last committed generation.

Mention-count idempotency is the point of the batch_id key: folding the
same shard twice would double n_mentions and flip canonicals — the
commit-marker skip makes re-delivery a no-op instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.linking_incremental import (
    _GEN,
    _MARKER,
    canonicalize_increment,
    committed_generations,
)
from ..plans import commit


def current_store(
    spark: SparkSession, gen_base: str, init_store: str
) -> str:
    """The store holding the newest state: the stream store once a
    batch has folded, else the init store."""
    return gen_base if committed_generations(spark, gen_base) else init_store


def fold_mention_batch(
    batch_df: DataFrame,
    batch_id: int,
    init_store: str,
    gen_base: str,
    keep_generations: int = 2,
    **increment_kwargs,
) -> bool:
    """One idempotent fold step (the foreachBatch body, exposed for
    direct testing). Returns True if the batch was folded, False if it
    was skipped as already committed or empty."""
    spark = batch_df.sparkSession
    gens = committed_generations(spark, gen_base)
    if batch_id in gens or batch_df.isEmpty():
        return False
    canonicalize_increment(
        batch_df,
        gen_base if gens else init_store,
        gen_base,
        batch_id,
        **increment_kwargs,
    )
    # a single writer: every generation but the newest survivors is
    # dead, and so is any markerless dir a crashed fold left
    survivors = sorted([*gens, batch_id])[-max(keep_generations, 1):]
    commit.drop_dead(
        commit.store_dir(spark, gen_base),
        _MARKER,
        _GEN,
        lambda g: g not in survivors,
    )
    return True


def stream_canonicalize(
    mention_stream: DataFrame,
    init_store: str,
    gen_base: str,
    checkpoint_dir: str,
    keep_generations: int = 2,
    **increment_kwargs,
):
    """Attach the fold to a mention stream (columns: text, label, …).
    Returns the StreamingQuery. Read the result any time via
    `canonical_map_from_state(spark, current_store(...))`."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_mention_batch(
            batch_df,
            batch_id,
            init_store,
            gen_base,
            keep_generations,
            **increment_kwargs,
        )

    return (
        mention_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
