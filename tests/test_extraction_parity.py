"""Spark extraction vs pure-Python oracle: the P/R≥0.95 gate (entities).

Also pins the per-turn text equality invariant under stable
(conv_id, turn_idx) ordering (BASELINE.json input_hint).
"""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import types as T

from gliner_spark.config import DEFAULT
from gliner_spark.kernel.metrics import compute_prf_micro
from gliner_spark.kernel.oracle import OraclePipeline
from gliner_spark.operators.curation import GOLD_CONF_SCHEMA, score_gold_spans
from gliner_spark.operators.ner import (
    _CHUNK_BUDGET_ELEMS,
    ENTITY_SCHEMA,
    _chunks,
    extract_entities,
    extract_entities_token,
)
from gliner_spark.operators.relations import TRIPLE_SCHEMA, extract_triples
from gliner_spark.sources.transcripts import synth_transcripts

LABELS = ["person", "organization", "location", "service", "tool"]


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = synth_transcripts(spark, n_convs=40).cache()
    df.count()
    return df


def test_generator_deterministic(spark, small_transcripts):
    a = sorted(small_transcripts.collect())
    b = sorted(synth_transcripts(spark, n_convs=40).collect())
    assert a == b


def test_generator_schema(small_transcripts):
    assert [f.name for f in small_transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    types = {f.name: f.dataType.simpleString() for f in small_transcripts.schema}
    assert types["turn_idx"] == "int"
    assert types["ts"] == "timestamp"


def test_entity_parity_vs_oracle(spark, small_transcripts):
    rows = sorted(
        small_transcripts.select("conv_id", "turn_idx", "text").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    oracle = OraclePipeline()
    expected = oracle.run([r.text for r in rows], LABELS)
    gold = {}
    for r, ents in zip(rows, expected):
        for e in ents:
            gold[(r.conv_id, r.turn_idx, e["start"], e["end"], e["label"])] = (
                e["text"], e["score"],
            )

    got_rows = extract_entities(small_transcripts, LABELS).collect()
    got = {}
    for e in got_rows:
        got[(e.conv_id, e.turn_idx, e.start, e.end, e.label)] = (e.text, e.score)

    assert len(gold) > 50, "oracle produced too few entities to be meaningful"
    # span-identity P/R (the ≥0.95 gate); scores compared with a float32
    # tolerance — BLAS GEMM blocking differs with batch shape by ~4e-7
    tp = sum(
        1
        for k, (txt, sc) in got.items()
        if k in gold and gold[k][0] == txt and abs(gold[k][1] - sc) < 1e-5
    )
    precision = tp / len(got)
    recall = tp / len(gold)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall, len(gold))
    # with a shared scorer the span sets should in fact be identical
    assert set(got) == set(gold)


def test_per_turn_text_equality(spark, small_transcripts):
    """Entity span text must equal the substring of the ORIGINAL turn text —
    extraction may not mutate or reorder turns."""
    ents = extract_entities(small_transcripts, LABELS)
    joined = ents.alias("e").join(
        small_transcripts.alias("t"), on=["conv_id", "turn_idx"], how="inner"
    )
    bad = joined.where(
        "substring(t.text, e.start + 1, e.end - e.start) != e.text"
    ).count()
    assert bad == 0
    # no dangling entities (every entity joins back to exactly one turn)
    assert ents.count() == joined.count()


def test_extraction_plan_is_shuffle_free(spark, small_transcripts):
    plan = extract_entities(small_transcripts, LABELS)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_threshold_pushdown_semantics(spark, small_transcripts):
    """Higher threshold must be a strict subset (monotone filter)."""
    lo = extract_entities(small_transcripts, LABELS, threshold=0.5)
    hi = extract_entities(small_transcripts, LABELS, threshold=0.8)
    lo_keys = {tuple(r) for r in lo.collect()}
    hi_keys = {tuple(r) for r in hi.collect()}
    assert hi_keys <= lo_keys
    assert len(hi_keys) < len(lo_keys)


@settings(max_examples=80, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(1, 512), st.integers(0, 80)), max_size=60
    ),
    max_width=st.sampled_from([3, 12]),
    dim=st.sampled_from([64, 128, 384]),
)
def test_chunker_bounds_padded_working_set(rows, max_width, dim):
    """The one chunker: chunks are contiguous and cover the order; every
    multi-row chunk's padded B·Lmax·K·(dim+Cmax) fits the budget, and
    adding the next row would exceed it."""
    lengths = [n for n, _c in rows]
    counts = [c for _n, c in rows]

    def elems(lo, hi):
        lmax = max([1, *lengths[lo:hi]])
        cmax = max([1, *counts[lo:hi]])
        return (hi - lo) * lmax * max_width * (dim + cmax)

    chunks = _chunks(lengths, counts, max_width, dim)
    assert all(hi > lo for lo, hi in chunks)
    assert [i for lo, hi in chunks for i in range(lo, hi)] == list(
        range(len(rows))
    )
    for lo, hi in chunks:
        if hi - lo > 1:
            assert elems(lo, hi) <= _CHUNK_BUDGET_ELEMS
        if hi < len(rows):
            assert elems(lo, hi + 1) > _CHUNK_BUDGET_ELEMS


def test_zero_output_batches_keep_declared_schema(spark):
    """All four span-scoring operators, given rows that all emit nothing
    (empty / blank text, gold spans outside the token stream), return an
    empty frame of their declared schema."""
    keys = [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
    ]
    transcripts = spark.createDataFrame(
        [("c0", 0, ""), ("c0", 1, "   ")],
        T.StructType([*keys, T.StructField("text", T.StringType(), False)]),
    )
    gold = spark.createDataFrame(
        [("c0", 0, 40, 41, LABELS[0]), ("c0", 1, 50, 60, LABELS[1])],
        T.StructType([
            *keys,
            T.StructField("tok_start", T.IntegerType(), False),
            T.StructField("tok_end", T.IntegerType(), False),
            T.StructField("label", T.StringType(), False),
        ]),
    )
    frames = [
        (extract_entities(transcripts, LABELS), ENTITY_SCHEMA),
        (extract_entities_token(transcripts, LABELS), ENTITY_SCHEMA),
        (extract_triples(transcripts, ["uses"], LABELS), TRIPLE_SCHEMA),
        (score_gold_spans(transcripts, gold, LABELS), GOLD_CONF_SCHEMA),
    ]
    for df, schema in frames:
        assert df.schema == schema
        assert df.collect() == []
