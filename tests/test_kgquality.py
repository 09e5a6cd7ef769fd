"""KG quality ops: PARIS functionality profile, functional-constraint
violations, noisy-OR evidence merge and conflict resolution, snapshot
diff (operators/kgquality.py)."""
import math

import pytest

from gliner_spark.operators.kgquality import (
    functional_violations,
    merge_evidence,
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


def test_merge_evidence_matches_python_noisy_or(triples):
    got = {
        (r["subj_id"], r["pred"], r["obj_id"]): r.asDict()
        for r in merge_evidence(triples).collect()
    }
    # python restatement
    want = {}
    for s, p, o, sc in TRIPLES:
        d = want.setdefault((s, p, o), {"n": 0, "mx": 0.0, "prod": 1.0})
        d["n"] += 1
        d["mx"] = max(d["mx"], sc)
        d["prod"] *= 1.0 - min(sc, 0.999999)
    assert set(got) == set(want)
    for key, d in want.items():
        g = got[key]
        assert g["n_evidence"] == d["n"]
        assert g["max_score"] == d["mx"]
        assert math.isclose(
            g["combined_score"], 1.0 - d["prod"], rel_tol=0, abs_tol=1e-9
        )
    # monotone: the 3-evidence triple beats its own max single score
    g = got[(1, "born_in", 10)]
    assert g["combined_score"] > g["max_score"]


def test_merge_evidence_score_one_stays_finite(spark):
    df = spark.createDataFrame(
        [(1, "p", 2, 1.0), (1, "p", 2, 0.5)],
        "subj_id long, pred string, obj_id long, score double",
    )
    row = merge_evidence(df).collect()[0]
    assert 0.999 < row["combined_score"] <= 1.0
    assert not math.isnan(row["combined_score"])


def test_profile_is_single_aggregation(triples):
    plan = (
        predicate_profile(triples)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # distinct-count rewrite uses expand + two aggs but only shuffles
    # on the group key: no join, no extra exchanges beyond the agg pair
    assert "Join" not in plan


def test_resolve_conflicts_picks_noisy_or_winner(triples):
    from gliner_spark.operators.kgquality import resolve_conflicts

    out = {
        (r["pred"], r["subj_id"]): r.asDict()
        for r in resolve_conflicts(triples, ["born_in"]).collect()
        if r["pred"] == "born_in"
    }
    # subj 1: obj 10 has evidence .9,.7 -> .97; obj 11 has .8 -> wins 10
    w = out[("born_in", 1)]
    assert w["obj_id"] == 10
    assert w["n_rivals"] == 1
    assert w["n_evidence"] == 2
    c10 = 1 - (1 - 0.9) * (1 - 0.7)
    assert w["combined_score"] == pytest.approx(c10, abs=1e-9)
    assert w["won_by"] == pytest.approx(c10 - 0.8, abs=1e-9)
    # subj 2 unopposed
    u = out[("born_in", 2)]
    assert (u["obj_id"], u["n_rivals"], u["won_by"]) == (10, 0, 0.0)


def test_resolve_conflicts_passthrough_and_tie(spark):
    from gliner_spark.operators.kgquality import resolve_conflicts

    df = spark.createDataFrame(
        [
            (1, "f", 7, 0.5),
            (1, "f", 3, 0.5),  # tie -> min obj_id wins
            (1, "knows", 9, 0.4),
        ],
        "subj_id long, pred string, obj_id long, score double",
    )
    rows = {
        (r["pred"], r["subj_id"], r["obj_id"]): r.asDict()
        for r in resolve_conflicts(df, ["f"]).collect()
    }
    assert ("f", 1, 3) in rows and ("f", 1, 7) not in rows
    assert rows[("f", 1, 3)]["won_by"] == 0.0
    # non-functional predicate passes through
    assert ("knows", 1, 9) in rows
    assert rows[("knows", 1, 9)]["n_rivals"] == 0


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
