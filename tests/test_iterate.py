"""plans/iterate.py: the frontier loop's stop rules, the round barrier's
one-job materialize-and-measure, and the size gate's bound."""

from pyspark.sql import functions as F

from gliner_spark.plans import iterate


def _chain_step(calls, last):
    """A frontier step along the chain 0 → 1 → … → last."""

    def step(t, frontier, out):
        calls.append(t)
        return frontier.select((F.col("id") + 1).alias("id")).where(
            F.col("id") <= last
        )

    return step


def test_frontier_loop_stops_at_first_empty_frontier(spark):
    calls = []
    seed = spark.range(1)
    out = iterate.frontier_loop(seed, _chain_step(calls, 3), 10)
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3]
    # round 4 found the frontier empty; no round ran after it
    assert calls == [1, 2, 3, 4]


def test_frontier_loop_honours_round_bound(spark):
    calls = []
    out = iterate.frontier_loop(spark.range(1), _chain_step(calls, 100), 2)
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]
    assert calls == [1, 2]


def _counted(spark, n):
    """spark.range(n) with a column whose evaluations an accumulator
    counts: each full evaluation of the frame adds n."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def touch(v):
        acc.add(1)
        return v

    return spark.range(n).select(touch("id").alias("x")), acc


def test_barrier_with_scalars_materializes_and_measures_in_one_pass(spark):
    df, acc = _counted(spark, 10)
    out, row = iterate.barrier(df, F.sum("x").alias("s"), F.max("x"))
    assert (row["s"], row[1]) == (45, 9)
    assert acc.value == 10  # one evaluation filled the checkpoint
    assert sorted(r.x for r in out.collect()) == list(range(10))
    assert acc.value == 10  # and later reads come from it


def test_barrier_without_scalars_checkpoints_eagerly(spark):
    df, acc = _counted(spark, 10)
    out, row = iterate.barrier(df)
    assert row is None
    assert acc.value == 10  # materialized before any action of ours
    assert out.count() == 10
    assert acc.value == 10


def test_sized_counts_in_the_materializing_pass(spark):
    df, acc = _counted(spark, 7)
    out, n = iterate.sized(df)
    assert n == 7 and acc.value == 7
    assert out.count() == 7 and acc.value == 7


def test_fits_one_task_reads_the_bound_when_called(monkeypatch):
    assert iterate.fits_one_task(iterate.SMALL_SOLVE)
    assert not iterate.fits_one_task(iterate.SMALL_SOLVE + 1)
    monkeypatch.setattr(iterate, "SMALL_SOLVE", 0)
    assert not iterate.fits_one_task(0)
