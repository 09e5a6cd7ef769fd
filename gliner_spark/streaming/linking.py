"""Streaming entity canonicalization: fold each micro-batch of mentions
into the persisted linking state (operators/linking_incremental) —
the live-ingest side of the continuously-updating KG.

foreachBatch + generation rotation keyed by the CHECKPOINTED batch_id:

 * generation `{gen_base}_b{batch_id}` holds the state after folding
   batch_id; the increment writes its meta table LAST, so a generation
   is COMMITTED iff its `_meta` exists — a crash mid-write leaves a
   partial generation that the replay simply overwrites.
 * on (re)delivery of batch_id: if its generation is already committed,
   the fold already happened → skip (Structured Streaming replays a
   batch_id with identical content, so skipping is exactly-once
   folding); otherwise fold FROM the latest committed generation
   (or `init_prefix` before any) INTO `{gen_base}_b{batch_id}`.
 * old generations are dropped beyond `keep_generations` — state tables
   default to MANAGED (no explicit path), so dropping deletes their
   files too. The caller's `init_prefix` is never dropped.

Mention-count idempotency is the point of the batch_id key: folding the
same shard twice would double n_mentions and flip canonicals — the
commit-marker skip makes re-delivery a no-op instead.

Limit: the generations are catalog tables, and the session catalog is
in-memory, so the commit marker holds only within one driver session. A
new driver lists no committed generation (it folds from `init_prefix`
again), and a replayed batch's saveAsTable meets the directory the old
driver left (LOCATION_ALREADY_EXISTS). Resuming across driver restarts
needs this store on plans/commit.py, as streaming/graphrank.py is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.linking_incremental import canonicalize_increment

_GEN = "_b"
_TABLES = ("surfaces", "labels", "bands", "canon", "meta")


def committed_generations(spark: SparkSession, gen_base: str) -> list[int]:
    """Batch ids with a COMMITTED generation (meta table present) in
    this session's catalog, ascending (`{gen_base}_b{batch_id}_*`)."""
    gens = []
    prefix = f"{gen_base}{_GEN}"
    for t in spark.catalog.listTables():
        n = t.name
        if n.startswith(prefix) and n.endswith("_meta"):
            mid = n[len(prefix):-len("_meta")]
            if mid.isdigit():
                gens.append(int(mid))
    return sorted(gens)


def current_state_prefix(
    spark: SparkSession, gen_base: str, init_prefix: str
) -> str:
    """The table prefix of the newest committed generation, or the
    initial state if no batch has folded yet."""
    gens = committed_generations(spark, gen_base)
    return f"{gen_base}{_GEN}{gens[-1]}" if gens else init_prefix


def fold_mention_batch(
    batch_df: DataFrame,
    batch_id: int,
    init_prefix: str,
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
    src = f"{gen_base}{_GEN}{gens[-1]}" if gens else init_prefix
    canonicalize_increment(
        batch_df,
        src,
        out_prefix=f"{gen_base}{_GEN}{batch_id}",
        **increment_kwargs,
    )
    survivors = (gens + [batch_id])[-max(keep_generations, 1):]
    for g in gens:
        if g not in survivors:
            for t in _TABLES:
                spark.sql(
                    f"drop table if exists {gen_base}{_GEN}{g}_{t}"
                )
    return True


def stream_canonicalize(
    mention_stream: DataFrame,
    init_prefix: str,
    gen_base: str,
    checkpoint_dir: str,
    keep_generations: int = 2,
    **increment_kwargs,
):
    """Attach the fold to a mention stream (columns: text, label, …).
    Returns the StreamingQuery. Read the result any time via
    `canonical_map_from_state(spark, current_state_prefix(...))`."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fold_mention_batch(
            batch_df,
            batch_id,
            init_prefix,
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
