"""KG quality / ontology-statistics operators.

After extraction + linking materialize a canonical triple table
(``operators/graph.py::build_edges`` input shape: subj_id, pred,
obj_id, score, conv_id, …), a production KG pipeline needs a
refinement pass: which predicates behave like functions, which
subjects violate declared functional constraints, what is the
combined confidence of a triple asserted by many noisy evidence rows,
and what changed between two snapshots.
The reference stops at emission (GLiNER predicts spans/relations per
text — /root/reference/gliner/model.py:218 ``predict_entities``);
these are the corpus-level consolidation ops a KG built FROM those
predictions needs, in the spirit of PARIS (Suchanek et al., VLDB
2012) functionality statistics.

Scale shape: every operator here is ONE hash aggregation over the
triple table (map-side combine, shuffle on its group key) plus at
most a broadcast of a tiny declared-ontology list — no driver
iteration, no Python rows.
"""
from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F


def predicate_profile(
    triples: DataFrame,
    pred_col: str = "pred",
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Per-predicate ontology statistics → (pred, n_triples, n_subj,
    n_obj, n_pairs, functionality, inverse_functionality).

    PARIS-style functionality: fun(p) = #distinct subjects /
    #distinct (subj, obj) pairs — 1.0 means every subject has exactly
    one object (the predicate behaves like a function); the inverse
    swaps the roles. Both are ratios of exact integer counts, so the
    binary64 division is bit-identical across engines (rounded 6dp
    for the oracle anyway).

    One hash aggregation on ``pred`` — distinct counts are partial
    (map-side) aggregated; predicates are few, so the shuffled state
    is tiny regardless of corpus size.
    """
    p, s, o = F.col(pred_col), F.col(subj_col), F.col(obj_col)
    return triples.groupBy(p.alias("pred")).agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct(s).alias("n_subj"),
        F.countDistinct(o).alias("n_obj"),
        F.countDistinct(s, o).alias("n_pairs"),
        F.round(F.countDistinct(s) / F.countDistinct(s, o), 6).alias(
            "functionality"
        ),
        F.round(F.countDistinct(o) / F.countDistinct(s, o), 6).alias(
            "inverse_functionality"
        ),
    )


def functional_violations(
    triples: DataFrame,
    functional_preds: Sequence[str],
    pred_col: str = "pred",
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
) -> DataFrame:
    """Subjects that violate a declared functional constraint →
    (pred, subj_id, n_obj, n_evidence).

    A predicate declared functional (one object per subject — think
    birth_date, capital_of) is violated by any subject asserting
    ≥2 distinct objects; those are the rows a curation pass reviews
    or resolves by confidence. The declared list is an O(10) ontology
    artifact: it rides as a plan-time literal ``isin`` (constant-
    folded), so the triple scan filters BEFORE the single (pred,
    subj) hash aggregation — predicate pushdown applies at any scale.
    """
    if not functional_preds:
        raise ValueError("declare at least one functional predicate")
    return (
        triples.where(F.col(pred_col).isin(list(functional_preds)))
        .groupBy(
            F.col(pred_col).alias("pred"),
            F.col(subj_col).alias("subj_id"),
        )
        .agg(
            F.countDistinct(F.col(obj_col)).alias("n_obj"),
            F.count(F.lit(1)).alias("n_evidence"),
        )
        .where(F.col("n_obj") >= 2)
    )


def merge_evidence(
    triples: DataFrame,
    group_cols: Iterable[str] = ("subj_id", "pred", "obj_id"),
    score_col: str = "score",
    cap: float = 0.999999,
) -> DataFrame:
    """Noisy-OR evidence combination → one row per triple with
    (n_evidence, max_score, combined_score).

    Independent noisy assertions of the same triple combine as
    1 − ∏(1 − s_i): two weak mentions beat one, and the result is
    monotone in every input — the standard KG-fusion rule. Computed
    as 1 − exp(Σ ln(1 − min(s, cap))) so it is ONE map-side-combining
    aggregation (a product has no partial-agg form; a sum of logs
    does). ``cap`` keeps ln() finite when a scorer emits exactly 1.0.

    Floating caveat (why this op is pytest- not oracle-gated): the
    log-sum order differs between engines/partitionings, so the last
    ulp of combined_score is not cross-engine stable; parity is
    asserted against a Python restatement at 1e-9 tolerance instead.
    """
    keys = [F.col(c) for c in group_cols]
    s = F.least(F.col(score_col).cast("double"), F.lit(float(cap)))
    return triples.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_evidence"),
        F.max(F.col(score_col)).alias("max_score"),
        (1.0 - F.exp(F.sum(F.log(1.0 - s)))).alias("combined_score"),
    )


def resolve_conflicts(
    triples: DataFrame,
    functional_preds: Sequence[str],
    pred_col: str = "pred",
    subj_col: str = "subj_id",
    obj_col: str = "obj_id",
    score_col: str = "score",
) -> DataFrame:
    """Resolve functional-constraint conflicts → the triple table with
    exactly ONE object per (functional pred, subject), plus
    bookkeeping: (pred, subj_id, obj_id, combined_score, n_evidence,
    n_rivals, won_by).

    Evidence for each candidate object first folds by noisy-OR
    (`merge_evidence` semantics inline — more independent assertions
    beat one), then the winner per (pred, subj) is the max combined
    score with ties broken by MIN object id (deterministic, engine-
    independent). Non-functional predicates pass through unchanged
    with n_rivals=0. The whole op is two hash aggregations (evidence
    fold, then a min(struct(-score, obj)) argmax — an aggregate, not
    a window sort, the repo's LPA tie-pick shape) — no windows over
    the full table, no driver work.

    won_by = combined score margin over the runner-up (0.0 when
    unopposed) — the review-queue priority signal: tiny margins are
    the rows a human checks first.
    """
    if not functional_preds:
        raise ValueError("declare at least one functional predicate")
    merged = merge_evidence(
        triples,
        group_cols=(subj_col, pred_col, obj_col),
        score_col=score_col,
    ).select(
        F.col(pred_col).alias("pred"),
        F.col(subj_col).alias("subj_id"),
        F.col(obj_col).alias("obj_id"),
        "combined_score",
        "n_evidence",
    )
    fn = merged.where(F.col("pred").isin(list(functional_preds)))
    rest = merged.where(~F.col("pred").isin(list(functional_preds)))
    # argmax by (score desc, obj asc) as ONE aggregate over structs;
    # second-best score rides along for the margin
    pick = fn.groupBy("pred", "subj_id").agg(
        F.min(
            F.struct(
                (-F.col("combined_score")).alias("ns"),
                F.col("obj_id").alias("obj_id"),
                F.col("n_evidence").alias("n_evidence"),
            )
        ).alias("w"),
        F.count(F.lit(1)).alias("n_cand"),
        F.max("combined_score").alias("best"),
        # runner-up = max over non-winning rows; computed from the two
        # largest scores: sort desc, element 2
        F.sort_array(
            F.collect_list("combined_score"), asc=False
        ).alias("scores"),
    )
    resolved = pick.select(
        "pred",
        "subj_id",
        F.col("w.obj_id").alias("obj_id"),
        (-F.col("w.ns")).alias("combined_score"),
        F.col("w.n_evidence").alias("n_evidence"),
        (F.col("n_cand") - 1).alias("n_rivals"),
        F.when(
            F.col("n_cand") > 1,
            F.col("best") - F.element_at("scores", 2),
        )
        .otherwise(F.lit(0.0))
        .alias("won_by"),
    )
    return resolved.unionByName(
        rest.select(
            "pred",
            "subj_id",
            "obj_id",
            "combined_score",
            "n_evidence",
            F.lit(0).cast("long").alias("n_rivals"),
            F.lit(0.0).alias("won_by"),
        )
    )


def kg_diff(
    old_edges: DataFrame,
    new_edges: DataFrame,
    key_cols: Sequence[str] = ("subj_id", "pred", "obj_id"),
    weight_col: str | None = "n_evidence",
) -> DataFrame:
    """Snapshot diff between two KG edge tables → one row per edge
    that CHANGED: (key…, status, old_weight, new_weight) with status
    in {'added', 'removed', 'changed'} — the regression gate a
    production KG runs between pipeline versions or ingest
    generations ("what did this code change do to the graph?").
    Unchanged edges are filtered out, so the output is the review
    set, not a copy of the corpus.

    One full-outer join on the (int64/string) edge key, pre-aggregated
    per side so parallel evidence rows fold first (map-side combine) —
    two shuffles total, both on the natural edge key the tables are
    already materialized by. With weight_col=None only
    presence/absence is diffed ('changed' cannot occur).
    """
    keys = list(key_cols)

    def _fold(df: DataFrame, out: str) -> DataFrame:
        if weight_col is None:
            return df.select(*keys).distinct().withColumn(
                out, F.lit(1).cast("long")
            )
        return df.groupBy(*keys).agg(
            F.sum(F.col(weight_col)).cast("long").alias(out)
        )

    o = _fold(old_edges, "old_weight")
    n = _fold(new_edges, "new_weight")
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("old_weight").isNull(), F.lit("added"))
        .when(F.col("new_weight").isNull(), F.lit("removed"))
        .when(
            F.col("old_weight") != F.col("new_weight"), F.lit("changed")
        )
        .otherwise(F.lit("same"))
    )
    return (
        joined.withColumn("status", status)
        .where(F.col("status") != "same")
        .select(
            *keys,
            "status",
            F.coalesce("old_weight", F.lit(0)).alias("old_weight"),
            F.coalesce("new_weight", F.lit(0)).alias("new_weight"),
        )
    )
