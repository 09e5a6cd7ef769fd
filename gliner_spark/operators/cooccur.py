"""Turn-window co-occurrence relation induction (SURVEY §2.5 W4).

The reference's only windowed-relation analog is the utca pipeline's char
`distance_threshold` (README_Extended.md:540-557); the north star lifts it
to the transcript domain: two entity mentions co-occur iff they appear in
the SAME conversation within `turn_window` turns of each other. Each
ordered mention pair becomes an induced triple
(subj_surface, "co_occurs_with", obj_surface) with the turn distance and a
score = min(mention scores) — the reference's min-over-parts span-score
convention (gliner/decoding/decoder.py:141-150) applied at pair level.

Scale design — this is the pipeline's first real shuffle, so it gets the
explicit treatment the north rule demands:

 * The naive formulation is a theta self-join
   ``a.conv_id = b.conv_id AND abs(a.turn_idx - b.turn_idx) <= w`` — Spark
   plans theta joins as broadcast-nested-loop, which is quadratic per
   conversation and dies on 10^12 turns. Instead we BUCKETIZE the range
   predicate: bucket = floor(turn_idx / (w+1)); a pair within w turns is
   always in equal or adjacent buckets, so joining on
   (conv_id, bucket) with the LEFT side exploded to {bucket-1, bucket,
   bucket+1} turns the range join into an EQUI join (hash/sort-merge,
   AQE-splittable) followed by a cheap residual filter. Classic
   range-bucketing, standard in distributed range-join implementations.
 * Power-law conversation lengths make (conv_id, bucket) skewed; AQE skew
   join (enabled in plans/session.py) splits oversized partitions. For
   pathological single-conversation hot spots the bucket term already
   bounds the join group to O(w · mentions-per-bucket).
 * Dedup of the symmetric pair and the 3× explode overlap is handled by an
   ordering predicate (left mention strictly before right mention in
   (turn_idx, start, surface) order) plus the residual bucket filter — not
   by ``distinct()``, which would be a second full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CO_OCCURS_PRED = "co_occurs_with"


def induce_cooccurrence(
    entities: DataFrame,
    turn_window: int = 2,
    pred_name: str = CO_OCCURS_PRED,
) -> DataFrame:
    """entities(conv_id, turn_idx, start, end, text, label, score) →
    mention-pair triples within `turn_window` turns.

    Output: (conv_id, subj, subj_label, pred, obj, obj_label, score,
    turn_a, turn_b, dist). Self-pairs on identical surface forms are kept
    only across distinct mention positions (same-surface repeat mentions do
    co-occur); the exact-same mention never pairs with itself.
    """
    w = int(turn_window)
    span = w + 1  # bucket width; pairs within w turns sit in adjacent buckets

    base = entities.select(
        "conv_id",
        "turn_idx",
        "start",
        "text",
        "label",
        "score",
        F.floor(F.col("turn_idx") / span).alias("bucket"),
    )

    left = base.select(
        F.col("conv_id"),
        F.col("turn_idx").alias("turn_a"),
        F.col("start").alias("start_a"),
        F.col("text").alias("subj"),
        F.col("label").alias("subj_label"),
        F.col("score").alias("score_a"),
        # the ordering predicate below forces turn_a <= turn_b, and buckets
        # are monotone in turn_idx, so bucket_b ∈ {bucket_a, bucket_a+1}:
        # a 2-way explode co-locates every surviving pair (the bucket-1 leg
        # of the symmetric 3-way explode only ever produced rows the
        # ordering predicate discarded) — one third less shuffle on the
        # exploded side, pair set provably identical
        F.explode(
            F.array(F.col("bucket"), F.col("bucket") + 1)
        ).alias("bucket"),
    )
    right = base.select(
        F.col("conv_id"),
        F.col("turn_idx").alias("turn_b"),
        F.col("start").alias("start_b"),
        F.col("text").alias("obj"),
        F.col("label").alias("obj_label"),
        F.col("score").alias("score_b"),
        F.col("bucket"),
    )

    pairs = left.join(right, on=["conv_id", "bucket"], how="inner").where(
        # residual range predicate
        (F.abs(F.col("turn_b") - F.col("turn_a")) <= w)
        # strict mention ordering: dedups the symmetric pair AND the
        # explode overlap AND removes the self-pair in one predicate
        & (
            F.struct("turn_a", "start_a", "subj")
            < F.struct("turn_b", "start_b", "obj")
        )
    )

    return pairs.select(
        "conv_id",
        "subj",
        "subj_label",
        F.lit(pred_name).alias("pred"),
        "obj",
        "obj_label",
        F.least("score_a", "score_b").alias("score"),
        "turn_a",
        "turn_b",
        (F.col("turn_b") - F.col("turn_a")).alias("dist"),
    )
