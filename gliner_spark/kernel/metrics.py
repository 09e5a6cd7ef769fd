"""Evaluation metrics mirroring the reference.

 - compute_prf_micro: micro P/R/F1 over (type, (start, end), sample_idx)
   sets — gliner/evaluation/evaluator.py:52-121 (extract_tp_actual_correct
   + compute_prf with average="micro", zero-division → 0).
 - triple_prf: set-based P/R/F1 over "s <> r <> t" strings —
   gliner/multitask/relation_extraction.py:240-269 (compute_f_score).
"""

from __future__ import annotations


def compute_prf_micro(y_true, y_pred) -> dict[str, float]:
    """y_true/y_pred: per-sample lists of (start, end, type) tuples."""
    true_set = set()
    pred_set = set()
    for i, ents in enumerate(y_true):
        for s, e, t in ents:
            true_set.add((t, s, e, i))
    for i, ents in enumerate(y_pred):
        for s, e, t in ents:
            pred_set.add((t, s, e, i))
    tp = len(true_set & pred_set)
    precision = tp / len(pred_set) if pred_set else 0.0
    recall = tp / len(true_set) if true_set else 0.0
    denom = precision + recall
    f1 = 2 * precision * recall / denom if denom else 0.0
    return {"precision": precision, "recall": recall, "f_score": f1}


def triple_prf(pred_triples, true_triples) -> dict[str, float]:
    """Set-based triple P/R/F1 (relation_extraction.py:257-266)."""
    true_set = set(true_triples)
    pred_set = set(pred_triples)
    tp = len(true_set & pred_set)
    fp = len(pred_set - true_set)
    fn = len(true_set - pred_set)
    precision = tp / (tp + fp) if tp + fp > 0 else 0.0
    recall = tp / (tp + fn) if tp + fn > 0 else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall > 0
        else 0.0
    )
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "true positives": tp,
        "false positives": fp,
        "false negatives": fn,
    }
