"""Span-based zero-shot NER as a single shuffle-free mapInArrow stage.

Spark-first restatement of the reference inference query
(GLiNER.run, gliner/model.py:357-449 — lifecycle in SURVEY §3.1):

 - the label-embedding matrix is computed ONCE on the driver and shipped in
   the UDF closure — the reference's bi-encoder label pre-encoding trick
   (gliner/model.py:604-630) expressed as Spark's broadcast pattern;
 - tokenization, span-rep construction and the span×label matmul run
   vectorized per Arrow batch (reference einsum at modeling/base.py:547);
 - threshold → greedy non-overlap decode per row (decoder.py:54-128);
 - char-offset projection + span text slicing (model.py:429-447).

This module also holds the ONE scoring stage that every span-scoring
operator runs (span and token NER here, the RE pass of
relations.extract_triples, curation.score_gold_spans):

 - `_chunks` cuts a caller-ordered row list into chunks whose padded
   (B, Lmax, K, dim+Cmax) working set stays under _CHUNK_BUDGET_ELEMS;
 - `_scored_chunks` is the chunk loop: it yields (rows, padded ids) per
   chunk, and each operator calls its own scorer and decoder on them;
 - `_spans` projects decoded token spans to the entity tuple shape;
 - `_to_batch` assembles output rows into the Arrow form of the
   operator's declared Spark schema (`to_arrow_schema`, never restated).

Chunk composition is part of the output: `score_batch` is a
(B·L, d) @ (d, C) GEMM whose last bits depend on the batch shape (BLAS
blocking), so each operator's row order and chunk boundaries are fixed —
length-sorted for both NER variants, (label count, length) for the RE
pass, arrival order for gold-span scoring.

The whole stage is NARROW: no shuffle between the transcript scan and the
entities output. At 100 TB this is the property that matters — scoring
cost scales linearly with input splits and AQE/partition sizing is the
only tuning surface. Catalyst pushes the column prune (only key cols +
text are read from parquet/Iceberg) because mapInArrow declares its input
projection explicitly via the upstream select.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import PipelineConfig, DEFAULT
from ..kernel.decode import decode_batch, decode_row_token
from ..kernel.scorer import HashedBiEncoder, get_scorer
from ..kernel.tokenizer import prep_tokens

_ENTITY_FIELDS = [
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("label", T.StringType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("tok_start", T.IntegerType(), False),
    T.StructField("tok_end", T.IntegerType(), False),
]

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        *_ENTITY_FIELDS,
    ]
)

# dense working-set budget for one scoring chunk: B*Lmax*K*(dim+C) float32s
_CHUNK_BUDGET_ELEMS = 6_000_000  # ~24 MB of float32 working set


def _chunks(
    lengths: list[int], label_counts: list[int], max_width: int, dim: int
) -> list[tuple[int, int]]:
    """Greedy chunking bounding the padded (B, Lmax, K, dim+Cmax) tensor;
    a chunk grows until the next row would exceed the budget (a single
    row over budget is a chunk of its own)."""
    chunks: list[tuple[int, int]] = []
    i, n = 0, len(lengths)
    while i < n:
        lmax, cmax, j = 1, 1, i
        while j < n:
            lm, cm = max(lmax, lengths[j]), max(cmax, label_counts[j])
            elems = (j - i + 1) * lm * max_width * (dim + cm)
            if elems > _CHUNK_BUDGET_ELEMS and j > i:
                break
            lmax, cmax, j = lm, cm, j + 1
        chunks.append((i, j))
        i = j
    return chunks


def _scored_chunks(
    scorer: HashedBiEncoder,
    prepped: list[tuple],
    order: list[int],
    label_counts: list[int],
    max_width: int,
) -> Iterator[tuple[list[int], np.ndarray]]:
    """Chunk the rows of `order` (indices into `prepped`; `label_counts`
    is indexed the same way) → (rows, padded ids (B, Lmax)) per chunk."""
    for lo, hi in _chunks(
        [len(prepped[i][0]) for i in order],
        [label_counts[i] for i in order],
        max_width,
        scorer.cfg.dim,
    ):
        rows = order[lo:hi]
        ids, _ = scorer.ids_matrix([prepped[i][0] for i in rows])
        yield rows, ids


def _spans(
    text: str, prepped_row: tuple, decoded: list[tuple], labels: list[str]
) -> list[tuple]:
    """Decoded (tok_start, tok_end, class, score) → entity tuples
    (char_start, char_end, span_text, label, score, tok_start, tok_end)."""
    _tokens, tstarts, tends = prepped_row
    return [
        (tstarts[si], tends[ei], text[tstarts[si]:tends[ei]], labels[ci],
         float(sci), si, ei)
        for si, ei, ci, sci in decoded
    ]


def _to_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples → one RecordBatch of `schema` (zero rows included)."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def _decode_spans(scorer, ids, label_mat, lengths, cfg, threshold):
    """Span scorer (B, L, K, C) → batched greedy decode."""
    probs = scorer.score_batch(ids, label_mat, cfg.max_width)
    return decode_batch(
        probs,
        np.asarray(lengths, dtype=np.int64),
        threshold,
        flat_ner=cfg.flat_ner,
        multi_label=cfg.multi_label,
    )


def _decode_tokens(scorer, ids, label_mat, lengths, cfg, threshold):
    """Token scorer (B, L, C, 3) → per-row start×end decode."""
    probs = scorer.token_scores(ids, label_mat)
    return [
        decode_row_token(
            p, n, threshold, flat_ner=cfg.flat_ner, multi_label=cfg.multi_label
        )
        for p, n in zip(probs, lengths)
    ]


def _entity_rows(
    scorer: HashedBiEncoder,
    label_mat: np.ndarray,
    labels: list[str],
    texts: list[str],
    prepped: list[tuple],
    max_width: int,
    decode: Callable,
) -> list[list[tuple]]:
    """Shared-label NER over one batch → per-row entity tuples.

    Chunks run in LENGTH-SORTED order: padding in an arrival-order chunk
    is set by its longest row (measured 2.0× padded-FLOP waste on the
    transcript length mix vs 1.05× sorted). Results scatter back by
    original index, so emission order stays the row order."""
    lengths = [len(p[0]) for p in prepped]
    order = sorted(range(len(texts)), key=lambda i: lengths[i])
    out: list[list[tuple]] = [[] for _ in texts]
    for rows, ids in _scored_chunks(
        scorer, prepped, order, [len(labels)] * len(texts), max_width
    ):
        decoded = decode(scorer, ids, label_mat, [lengths[i] for i in rows])
        for i, spans in zip(rows, decoded):
            out[i] = _spans(texts[i], prepped[i], spans, labels)
    return out


def _entity_stage(
    transcripts: DataFrame,
    labels: list[str],
    cfg: PipelineConfig,
    passthrough: tuple[str, ...],
    max_width: int,
    decode: Callable,
) -> DataFrame:
    """The mapInArrow stage of both NER variants.

    Labels are deduped order-preserving (reference gliner/model.py:202)
    and pre-encoded on the driver; the (C, dim) matrix rides the closure
    (tiny) — semantically a broadcast of the build side of the span×label
    cross-score join (SURVEY §2.3 J1). `passthrough` columns are gathered
    with one Arrow `take` of the input arrays (zero-copy, any type)."""
    labels = list(dict.fromkeys(labels))
    label_mat = get_scorer(cfg.scorer).encode_labels(labels)
    passthrough = tuple(passthrough)
    in_fields = {f.name: f for f in transcripts.schema.fields}
    out_schema = T.StructType(
        [in_fields[c] for c in passthrough] + _ENTITY_FIELDS
    )
    entity_arrow = to_arrow_schema(T.StructType(_ENTITY_FIELDS))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        scorer = get_scorer(cfg.scorer)  # per-worker memoized, deterministic
        for batch in batches:
            texts = batch.column("text").to_pylist()
            prepped = [prep_tokens(t, cfg.max_len, cfg.tokenizer) for t in texts]
            per_row = _entity_rows(
                scorer, label_mat, labels, texts, prepped, max_width, decode
            )
            take = pa.array(
                [i for i, rows in enumerate(per_row) for _ in rows],
                type=pa.int64(),
            )
            ents = _to_batch([e for rows in per_row for e in rows], entity_arrow)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c).take(take) for c in passthrough] + ents.columns,
                names=out_schema.fieldNames(),
            )

    projected = transcripts.select(*passthrough, "text")
    return projected.mapInArrow(run, out_schema)


def extract_entities_token(
    transcripts: DataFrame,
    labels: list[str],
    cfg: PipelineConfig | None = None,
    threshold: float | None = None,
    passthrough: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Token-level decode variant (reference TokenProcessor/TokenDecoder
    family — SURVEY §2.2 P5-token, §2.3 J3 start×end pair join, §2.4 A4
    min-over-parts span score). Same narrow mapInArrow shape as
    extract_entities; only the scoring tensor (B, L, C, 3) and the decode
    rule differ. Config flag equivalent of the reference's processor
    hierarchy choice (processor.py:297 vs :486)."""
    cfg = cfg or DEFAULT
    thr = cfg.threshold if threshold is None else threshold
    # chunk budget: (B, Lmax) × (3·C + dim) working floats per token
    decode = partial(_decode_tokens, cfg=cfg, threshold=thr)
    return _entity_stage(transcripts, labels, cfg, passthrough, 3, decode)


def extract_entities(
    transcripts: DataFrame,
    labels: list[str],
    cfg: PipelineConfig | None = None,
    threshold: float | None = None,
    passthrough: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """transcripts(…, text) → entities DataFrame.

    Narrow transformation; output partitioning inherits the scan. Labels
    are deduped order-preserving (reference gliner/model.py:202).

    `passthrough` columns are carried into the output untouched via Arrow
    `take` (zero-copy gather of the input arrays, any type incl. ts) —
    consumers that need e.g. the event timestamp (streaming windows) list
    it here instead of joining back.
    """
    cfg = cfg or DEFAULT
    thr = cfg.threshold if threshold is None else threshold
    decode = partial(_decode_spans, cfg=cfg, threshold=thr)
    return _entity_stage(
        transcripts, labels, cfg, passthrough, cfg.max_width, decode
    )
