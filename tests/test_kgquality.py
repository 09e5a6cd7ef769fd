"""KG quality ops: PARIS functionality profile, functional-constraint
violations, snapshot diff (operators/kgquality.py)."""
import pytest

from gliner_spark.operators.kgquality import (
    functional_violations,
    predicate_profile,
)

TRIPLES = [
    # born_in is functional: subj 1 violates (two objects), subj 2 ok
    (1, "born_in", 10, 0.9),
    (1, "born_in", 11, 0.8),
    (1, "born_in", 10, 0.7),
    (2, "born_in", 10, 0.95),
    # knows is many-many
    (1, "knows", 2, 0.5),
    (1, "knows", 3, 0.6),
    (2, "knows", 3, 0.7),
    (3, "knows", 2, 0.4),
]


@pytest.fixture()
def triples(spark):
    return spark.createDataFrame(
        TRIPLES, "subj_id long, pred string, obj_id long, score double"
    )


def test_predicate_profile_paris_functionality(triples):
    prof = {r["pred"]: r.asDict() for r in predicate_profile(triples).collect()}
    b = prof["born_in"]
    # pairs: (1,10),(1,11),(2,10) -> 3; subj {1,2} -> 2; obj {10,11} -> 2
    assert (b["n_triples"], b["n_subj"], b["n_obj"], b["n_pairs"]) == (4, 2, 2, 3)
    assert b["functionality"] == round(2 / 3, 6)
    assert b["inverse_functionality"] == round(2 / 3, 6)
    k = prof["knows"]
    assert (k["n_triples"], k["n_pairs"]) == (4, 4)
    assert k["functionality"] == 0.75  # 3 distinct subjects / 4 pairs


def test_functional_violations_only_declared_preds(triples):
    rows = functional_violations(triples, ["born_in"]).collect()
    assert len(rows) == 1
    v = rows[0].asDict()
    assert (v["pred"], v["subj_id"], v["n_obj"], v["n_evidence"]) == (
        "born_in", 1, 2, 3,
    )
    # 'knows' has many violations if declared — and none if not
    rows2 = functional_violations(triples, ["born_in", "knows"]).collect()
    assert {(r["pred"], r["subj_id"]) for r in rows2} == {
        ("born_in", 1), ("knows", 1),
    }
    with pytest.raises(ValueError):
        functional_violations(triples, [])


def test_profile_is_single_aggregation(triples):
    plan = (
        predicate_profile(triples)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # distinct-count rewrite uses expand + two aggs but only shuffles
    # on the group key: no join, no extra exchanges beyond the agg pair
    assert "Join" not in plan


def test_kg_diff_statuses(spark):
    from gliner_spark.operators.kgquality import kg_diff

    old = spark.createDataFrame(
        [
            (1, "p", 2, 3),
            (1, "p", 3, 1),   # removed
            (2, "q", 4, 2),   # weight changes (2 -> 5)
            (2, "q", 4, 0),   # parallel row folds into the above
        ],
        "subj_id long, pred string, obj_id long, n_evidence long",
    )
    new = spark.createDataFrame(
        [
            (1, "p", 2, 3),   # unchanged -> absent from output
            (2, "q", 4, 5),
            (9, "p", 9, 1),   # added
        ],
        "subj_id long, pred string, obj_id long, n_evidence long",
    )
    got = {
        (r["subj_id"], r["pred"], r["obj_id"]): (
            r["status"], r["old_weight"], r["new_weight"]
        )
        for r in kg_diff(old, new).collect()
    }
    assert got == {
        (1, "p", 3): ("removed", 1, 0),
        (2, "q", 4): ("changed", 2, 5),
        (9, "p", 9): ("added", 0, 1),
    }


def test_kg_diff_presence_only(spark):
    from gliner_spark.operators.kgquality import kg_diff

    old = spark.createDataFrame(
        [(1, "p", 2, 7)],
        "subj_id long, pred string, obj_id long, n_evidence long",
    )
    new = spark.createDataFrame(
        [(1, "p", 2, 99)],
        "subj_id long, pred string, obj_id long, n_evidence long",
    )
    # weight ignored -> no change rows at all
    assert kg_diff(old, new, weight_col=None).count() == 0
