"""Per-layer measurement for the traced run: the driver-side kernel sample
and the fold of the Spark event log by job group.

Nothing inside gliner_spark is instrumented. Spans come from the
benchmark's own calls into each module (harness.Bench.span); Spark-side
costs come from the event log, where every job carries the job group its
layer call set (or, for streaming queries, the query's run id)."""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np

# the layers whose Spark jobs are folded from the event log, and the
# fields folded for each; every workload reports all of them, 0 where the
# workload never enters the layer
EVENT_LAYERS = (
    "ner", "relations", "cooccur", "linking", "graph", "lineage",
    "ingest", "graphrank", "dedup", "curation", "packing",
)
EVENT_FIELDS = (
    "python_worker_s", "python_bytes_mb", "shuffle_write_mb", "spill_mb",
    "gc_s", "executor_cpu_s", "task_skew",
)
# "time to initialize Python workers" is left out: in Spark 4.1 it reads
# many times the task's own run time, so it is not a per-task duration
_PY_TIME = ("time to run Python workers", "time to start Python workers")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

KERNEL_BATCH = 64


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order. Spark 4 writes one eventlog_v2_<app>
    dir per application holding events_<n>_<app> parts."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, entry)
        if os.path.isdir(p):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            files.extend(os.path.join(p, f) for f in parts)
        else:
            files.append(p)
    return files


def fold_event_log(log_dir: str, layer_of_group) -> dict[str, dict[str, float]]:
    """Sum task metrics and Python-worker SQL accumulables per layer.

    `layer_of_group(group_id) -> layer | None` maps a job's
    `spark.jobGroup.id` to the layer it belongs to. task_skew is max/median
    executor run time within each stage of ≥2 tasks, averaged over those
    stages weighted by their total run time."""
    stage_layer: dict[int, str] = {}
    acc = defaultdict(lambda: defaultdict(float))
    runs = defaultdict(list)  # (layer, stage, attempt) -> task run ms
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    layer = layer_of_group(group)
                    if layer:
                        for sid in ev.get("Stage IDs", []):
                            stage_layer[sid] = layer
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev.get("Stage ID"))
                    if layer is None:
                        continue
                    a = acc[layer]
                    tm = ev.get("Task Metrics") or {}
                    a["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    a["spill_mb"] += (
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    sw = tm.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    for item in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = item.get("Name")
                        if name in _PY_TIME:
                            a["python_worker_s"] += float(item.get("Update", 0)) / 1e3
                        elif name in _PY_BYTES:
                            a["python_bytes_mb"] += float(item.get("Update", 0)) / 2**20
                    key = (layer, ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
                    runs[key].append(tm.get("Executor Run Time", 0))
    skew_num = defaultdict(float)
    skew_den = defaultdict(float)
    for (layer, _sid, _att), ms in runs.items():
        med = statistics.median(ms)
        if len(ms) >= 2 and med > 0:
            skew_num[layer] += max(ms) / med * sum(ms)
            skew_den[layer] += sum(ms)
    out = {}
    for layer in EVENT_LAYERS:
        row = {f: float(acc[layer][f]) for f in EVENT_FIELDS if f != "task_skew"}
        row["task_skew"] = (
            skew_num[layer] / skew_den[layer] if skew_den[layer] else 0.0
        )
        out[layer] = row
    return out


def event_metrics(folded: dict[str, dict[str, float]]) -> dict[str, float]:
    return {
        f"{layer}.{f}": folded[layer][f]
        for layer in EVENT_LAYERS
        for f in EVENT_FIELDS
    }


def kernel_layer(texts: list[str], entity_types: list[str],
                 relations: list[str], reps: int = 3) -> dict[str, float]:
    """Time the scorer kernel on a fixed driver-side sample of turns, the
    way the NER and RE operators drive it, in length-sorted batches of
    KERNEL_BATCH: prep_tokens → ids_matrix + score_batch → decode_batch,
    then the RE pass (ids_matrix + encode_labels + score_batch_ragged →
    decode_batch). Per-turn times are medians over `reps` passes, the
    first of which also fills the scorer's per-process caches."""
    from gliner_spark.config import DEFAULT as cfg
    from gliner_spark.kernel.decode import decode_batch, threshold_candidates
    from gliner_spark.kernel.scorer import get_scorer
    from gliner_spark.kernel.tokenizer import prep_tokens
    from gliner_spark.operators.relations import relation_labels_for

    scorer = get_scorer(cfg.scorer)
    label_mat = scorer.encode_labels(entity_types)
    prefix = f"{cfg.re_prompt} \n "
    p_toks = prep_tokens(prefix, cfg.max_len, cfg.tokenizer)[0]
    n = len(texts)
    pc = time.perf_counter
    samples = defaultdict(list)
    for _ in range(reps):
        t0 = pc()
        prepped = [prep_tokens(t, cfg.max_len, cfg.tokenizer) for t in texts]
        tok = pc() - t0
        order = sorted(range(n), key=lambda i: len(prepped[i][0]))
        score = decode = re_score = 0.0
        cands = accepted = 0
        ents: list[list[str]] = [[] for _ in range(n)]
        for lo in range(0, n, KERNEL_BATCH):
            idx = order[lo:lo + KERNEL_BATCH]
            t0 = pc()
            ids, lengths = scorer.ids_matrix([prepped[i][0] for i in idx])
            probs = scorer.score_batch(ids, label_mat, cfg.max_width)
            t1 = pc()
            dec = decode_batch(
                probs, lengths, cfg.ner_threshold,
                flat_ner=cfg.flat_ner, multi_label=cfg.multi_label,
            )
            t2 = pc()
            score += t1 - t0
            decode += t2 - t1
            for b, i in enumerate(idx):
                cands += len(
                    threshold_candidates(probs[b], int(lengths[b]), cfg.ner_threshold)[0]
                )
                accepted += len(dec[b])
                _toks, starts, ends = prepped[i]
                ents[i] = [texts[i][starts[s]:ends[e]] for s, e, _c, _sc in dec[b]]
        labels = [relation_labels_for(e, relations) for e in ents]
        rows = sorted(
            (i for i in range(n) if labels[i]),
            key=lambda i: (len(labels[i]), len(prepped[i][0])),
        )
        prompt_toks = {i: (p_toks + prepped[i][0])[: cfg.max_len] for i in rows}
        for lo in range(0, len(rows), KERNEL_BATCH):
            idx = rows[lo:lo + KERNEL_BATCH]
            t0 = pc()
            ids, lengths = scorer.ids_matrix([prompt_toks[i] for i in idx])
            mats = [scorer.encode_labels(labels[i]) for i in idx]
            probs = scorer.score_batch_ragged(ids, mats, cfg.max_width)
            t1 = pc()
            decode_batch(
                probs, lengths, cfg.rel_threshold,
                flat_ner=cfg.flat_ner, multi_label=cfg.multi_label,
                n_labels=np.asarray([len(labels[i]) for i in idx], dtype=np.int64),
            )
            t2 = pc()
            re_score += t1 - t0
            decode += t2 - t1
        us = 1e6 / max(n, 1)
        samples["kernel.tokenize_us_per_turn"].append(tok * us)
        samples["kernel.score_us_per_turn"].append(score * us)
        samples["kernel.re_score_us_per_turn"].append(re_score * us)
        samples["kernel.decode_us_per_turn"].append(decode * us)
        samples["kernel.accept_ratio"].append(accepted / cands if cands else 0.0)
    return {k: float(statistics.median(v)) for k, v in samples.items()}
