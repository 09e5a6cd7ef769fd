"""KG quality / ontology-statistics operators.

After extraction + linking materialize a canonical triple table
(``operators/graph.py::build_edges`` input shape: subj_id, pred,
obj_id, score, conv_id, …), a production KG pipeline needs a
refinement pass: which predicates behave like functions, which
subjects violate declared functional constraints, and what changed
between two snapshots.
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

from typing import Sequence

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
