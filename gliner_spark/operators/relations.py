"""Two-pass relation extraction (triple emission) as ONE narrow Arrow stage.

Spark-first restatement of GLiNERRelationExtractor.__call__
(gliner/multitask/relation_extraction.py:113-134 — lifecycle in SURVEY §3.2):

  pass 1  NER over the turn text with the user's entity types;
  labels  per-turn composite labels "<entity surface> <> <relation>"
          (relation-major × entity-minor, relation_extraction.py:66-75);
  prompt  "Extract relationships…: \n " + text (relation_extraction.py:59-64);
  pass 2  scoring with PER-ROW label lists (the processor.py:255-266 ragged
          branch) via one padded einsum per chunk — the reference's own
          padding trick (gliner/modeling/base.py:537-543);
  emit    split label on "<>" → (subj, pred, obj=span text, score), char
          offsets shifted back by the prompt length
          (relation_extraction.py:84-105).

Why FUSED instead of entities-table → groupBy → second scan: pass 2's label
set depends only on pass 1's output for the SAME row, so the dependency is
row-local. Fusing both passes into one mapInArrow keeps the whole triple
producer shuffle-free — at 100 TB the alternative costs a full shuffle of
the entities table plus a re-scan of transcripts, for zero semantic gain.
Both passes run the one scoring stage of operators/ner.py (chunker, chunk
loop, span projection, Arrow assembly); only the row order, the scorer and
the decoder call are this module's. The entities DataFrame remains
available separately (operators/ner.py) for consumers that want mentions
(co-occurrence induction, linking).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import PipelineConfig, DEFAULT
from ..kernel.decode import decode_batch
from ..kernel.scorer import HashedBiEncoder, get_scorer
from ..kernel.tokenizer import prep_tokens
from .ner import _decode_spans, _entity_rows, _scored_chunks, _spans, _to_batch

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)


def relation_labels_for(
    entity_texts: list[str], relations: list[str]
) -> list[str]:
    """Composite labels, relation-major × entity-minor; entity surfaces in
    first-occurrence order (see kernel/oracle.py module note on determinism
    vs the reference's set() at relation_extraction.py:70)."""
    uniq = list(dict.fromkeys(entity_texts))
    return [f"{ent} <> {rel}" for rel in relations for ent in uniq]


def _relation_pass(
    texts: list[str],
    prefix: str,
    per_row_labels: list[list[str]],
    scorer: HashedBiEncoder,
    cfg: PipelineConfig,
    threshold: float,
    text_prepped: list[tuple],
) -> list[list[tuple]]:
    """Ragged-label scoring of (prefix + text) prompts → per-row entity
    tuples (ner._spans shape) with offsets into the PROMPT.

    Efficiency structure (semantics identical to tokenizing each prompt
    whole — pinned by the oracle parity test):
      * the prompt prefix ends in whitespace, so the reference regex can
        never produce a token crossing the prefix/text boundary →
        prefix tokens are computed ONCE and text tokens are shifted, not
        re-tokenized per row;
      * rows with zero labels (no pass-1 entities) never enter a chunk —
        at production scale most turns have few/no entities and skipping
        them is the dominant saving;
      * chunk packing sorts rows by (label count, length) so the padded
        (B, Lmax, K, Cmax) tensor is dense — unsorted packing wastes
        ~3× on Cmax-vs-mean padding. Per-row results are written back by
        original index, so output order is unaffected.
    """
    assert prefix[-1].isspace()
    p_toks, p_starts, p_ends = prep_tokens(prefix, cfg.max_len, cfg.tokenizer)
    shift = len(prefix)
    prepped = []
    for t, (toks, starts, ends) in zip(texts, text_prepped):
        if toks == ["[PAD]"] and not t.strip():
            comb = (list(p_toks), list(p_starts), list(p_ends))
        else:
            comb = (
                p_toks + toks,
                p_starts + [s + shift for s in starts],
                p_ends + [e + shift for e in ends],
            )
        prepped.append(
            (comb[0][: cfg.max_len], comb[1][: cfg.max_len], comb[2][: cfg.max_len])
        )
    lengths = [len(p[0]) for p in prepped]
    counts = [len(ls) for ls in per_row_labels]
    out: list[list[tuple]] = [[] for _ in texts]
    eligible = sorted(
        (i for i in range(len(texts)) if counts[i] > 0),
        key=lambda i: (counts[i], lengths[i]),
    )
    for rows, ids in _scored_chunks(
        scorer, prepped, eligible, counts, cfg.max_width
    ):
        label_mats = [scorer.encode_labels(per_row_labels[i]) for i in rows]
        probs = scorer.score_batch_ragged(ids, label_mats, cfg.max_width)
        decoded = decode_batch(
            probs,
            np.asarray([lengths[i] for i in rows], dtype=np.int64),
            threshold,
            flat_ner=cfg.flat_ner,
            multi_label=cfg.multi_label,
            n_labels=np.asarray([counts[i] for i in rows], dtype=np.int64),
        )
        for i, spans in zip(rows, decoded):
            out[i] = _spans(
                prefix + texts[i], prepped[i], spans, per_row_labels[i]
            )
    return out


def extract_triples(
    transcripts: DataFrame,
    relations: list[str],
    entity_types: list[str],
    cfg: PipelineConfig | None = None,
    ner_threshold: float | None = None,
    rel_threshold: float | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, …) → triples DataFrame.

    Narrow end-to-end: scan → (NER pass ∘ RE pass) inside one mapInArrow →
    triples. Output columns (subj, pred, obj, score, start, end) use the
    reference's conventions: obj is the pass-2 span text stripped, start/end
    are char offsets into the ORIGINAL turn text (prompt shift removed,
    relation_extraction.py:84-105).
    """
    cfg = cfg or DEFAULT
    ner_thr = cfg.ner_threshold if ner_threshold is None else ner_threshold
    rel_thr = cfg.rel_threshold if rel_threshold is None else rel_threshold
    entity_types = list(dict.fromkeys(entity_types))
    relations = list(relations)
    prefix = f"{cfg.re_prompt} \n "
    shift = len(prefix)

    ent_label_mat = get_scorer(cfg.scorer).encode_labels(entity_types)
    ner_decode = partial(_decode_spans, cfg=cfg, threshold=ner_thr)
    triple_arrow = to_arrow_schema(TRIPLE_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        scorer = get_scorer(cfg.scorer)
        for batch in batches:
            conv = batch.column("conv_id").to_pylist()
            turn = batch.column("turn_idx").to_pylist()
            texts = batch.column("text").to_pylist()
            # pass 1: shared-label NER (the same stage as operators/ner.py);
            # tokenization is shared with pass 2
            prepped = [prep_tokens(t, cfg.max_len, cfg.tokenizer) for t in texts]
            ner_rows = _entity_rows(
                scorer, ent_label_mat, entity_types, texts, prepped,
                cfg.max_width, ner_decode,
            )
            per_row_labels = [
                relation_labels_for([r[2] for r in rows], relations)
                for rows in ner_rows
            ]
            # pass 2: ragged-label RE scoring
            rel_rows = _relation_pass(
                texts, prefix, per_row_labels, scorer, cfg, rel_thr, prepped
            )
            # rsplit: an entity surface may itself contain '<>'; the
            # RELATION never does (caller-supplied list), so splitting on
            # the LAST marker is unambiguous — and must match
            # kernel/oracle.py exactly (parity tests)
            triples = [
                (cid, tix, *(p.strip() for p in label.rsplit("<>", 1)),
                 span_text.strip(), score, cs - shift, ce - shift)
                for cid, tix, rows in zip(conv, turn, rel_rows)
                for cs, ce, span_text, label, score, _ts, _te in rows
            ]
            yield _to_batch(triples, triple_arrow)

    projected = transcripts.select("conv_id", "turn_idx", "text")
    return projected.mapInArrow(run, TRIPLE_SCHEMA)
