"""Turn-window co-occurrence induction: semantics vs a brute-force Python
oracle, and the plan property (equi-join, NOT broadcast-nested-loop)."""

import itertools

import pytest
from pyspark.sql import Row

from gliner_spark.operators.cooccur import induce_cooccurrence

MENTIONS = [
    # conv_id, turn_idx, start, end, text, label, score
    ("c1", 0, 0, 5, "Alice", "person", 0.9),
    ("c1", 1, 3, 7, "Acme", "organization", 0.8),
    ("c1", 2, 0, 6, "Zurich", "location", 0.7),
    ("c1", 5, 0, 5, "Alice", "person", 0.95),
    ("c1", 9, 0, 4, "Bob", "person", 0.6),
    ("c2", 0, 0, 3, "Bob", "person", 0.85),
    ("c2", 1, 0, 5, "Redis", "tool", 0.75),
    # two mentions in the SAME turn
    ("c2", 1, 10, 15, "Kafka", "tool", 0.65),
]


def brute_force(mentions, w):
    out = set()
    for a, b in itertools.combinations(range(len(mentions)), 2):
        ma, mb = mentions[a], mentions[b]
        if ma[0] != mb[0] or abs(ma[1] - mb[1]) > w:
            continue
        ka = (ma[1], ma[2], ma[4])
        kb = (mb[1], mb[2], mb[4])
        lo, hi = (ma, mb) if ka < kb else (mb, ma)
        out.add(
            (lo[0], lo[4], hi[4], lo[1], hi[1], round(min(lo[6], hi[6]), 6))
        )
    return out


@pytest.fixture(scope="module")
def mentions_df(spark):
    return spark.createDataFrame(
        [Row(conv_id=c, turn_idx=t, start=s, end=e, text=x, label=l, score=sc)
         for c, t, s, e, x, l, sc in MENTIONS]
    )


@pytest.mark.parametrize("w", [0, 1, 2, 5])
def test_cooccur_matches_brute_force(spark, mentions_df, w):
    got = {
        (r.conv_id, r.subj, r.obj, r.turn_a, r.turn_b, round(r.score, 6))
        for r in induce_cooccurrence(mentions_df, w).collect()
    }
    assert got == brute_force(MENTIONS, w)


def test_no_duplicate_pairs(spark, mentions_df):
    df = induce_cooccurrence(mentions_df, 2)
    assert df.count() == df.distinct().count()


def test_plan_uses_equi_join_not_nested_loop(spark, mentions_df):
    plan = (
        induce_cooccurrence(mentions_df, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
