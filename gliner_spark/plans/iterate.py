"""The driver-side iteration mechanism every graph loop shares.

Catalyst cannot iterate (SURVEY §4), so an iterative graph operator is a
Python loop whose every round must cut the lineage it grows; a round
that does not would replan an ever-deeper plan. This module holds the
three shapes those loops take, so each operator states only its step:

 * the size gate and the one-task finisher: `fits_one_task(n)` picks the
   side of every size-gated solver from a row count the solver already
   measured (bound `SMALL_SOLVE`, read when called), and `one_task` runs
   a Python solve over all of a frame's rows in ONE task;
 * `barrier`: one round's materialization. With scalars it checkpoints
   lazily and runs ONE aggregate collect that both materializes the
   round and returns its scalars (a convergence delta, a row count, a
   normalizer); without scalars it checkpoints eagerly, so a loop that
   fetches nothing stays collect-free. `sized` is the barrier whose one
   scalar is the row count;
 * `frontier_loop`: level-synchronous expansion from a seed frame,
   stopping at the first empty frontier or after a round bound, and
   returning the union of every level.

These helpers are internal to the package. One loop keeps its own
barrier: strongly_connected_components' pointer doubling, whose rounds
self-join the round frame (see graph.py).
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# The most rows a size-gated solver hands to ONE task: the edge count
# below which connected_components, core_numbers and
# strongly_connected_components finish locally, and the band-row count
# (surfaces × bands) below which canonicalize runs in one task.
SMALL_SOLVE = 500_000


def fits_one_task(n: int) -> bool:
    """True iff a measured input of `n` rows takes the one-task side.
    Reads `SMALL_SOLVE` when called; a bound of 0 forces the distributed
    side on any input, including an empty one."""
    return 0 < SMALL_SOLVE and n <= SMALL_SOLVE


def one_task(df: DataFrame, solve, schema: T.StructType) -> DataFrame:
    """All of df's rows → ONE task → solve(pa.Table) → {column: list} in
    `schema`'s field order. One narrow exchange (coalesce, no shuffle
    write). Bounded by construction: every caller gates on a row count
    (`fits_one_task`), the same bounded-small-side pattern as the k-means
    centroid collect. An empty input yields no rows."""
    arrow = to_arrow_schema(schema)

    def run(batches):
        batches = list(batches)
        if batches:
            table = pa.Table.from_batches(batches)
            if table.num_rows:
                yield pa.RecordBatch.from_pydict(solve(table), schema=arrow)

    return df.coalesce(1).mapInArrow(run, schema)


def barrier(df: DataFrame, *scalars: Column) -> tuple[DataFrame, Row | None]:
    """Materialize one round of an iterative loop → (checkpointed frame,
    Row of `scalars` over it, or None without scalars). With scalars the
    checkpoint is lazy and the one `agg(*scalars)` collect is the job
    that fills it; without, the checkpoint is eager."""
    if not scalars:
        return df.localCheckpoint(), None
    df = df.localCheckpoint(eager=False)
    return df, df.agg(*scalars).collect()[0]


def sized(df: DataFrame) -> tuple[DataFrame, int]:
    """(df materialized, its row count) in one job: the form every
    size-gated solver measures its input with."""
    df, row = barrier(df, F.count(F.lit(1)))
    return df, row[0]


def frontier_loop(
    seed: DataFrame,
    step: Callable[[int, DataFrame, DataFrame], DataFrame],
    max_rounds: int,
) -> DataFrame:
    """Level-synchronous frontier expansion. Round t = 1..max_rounds
    builds the next frontier as step(t, frontier, out), where `out` is
    the union of the seed and every frontier so far, and checkpoints it
    eagerly; the first empty frontier ends the loop. Returns `out`.
    Every level in it is a checkpointed frame, so the union's lineage
    stays shallow."""
    frontier = out = seed.localCheckpoint()
    for t in range(1, max_rounds + 1):
        nxt = step(t, frontier, out).localCheckpoint()
        if nxt.isEmpty():
            break
        out = out.unionByName(nxt)
        frontier = nxt
    return out
