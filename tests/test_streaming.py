"""Structured-Streaming path: stream == batch results, idempotent
foreachBatch KG bridge."""

import pytest

from gliner_spark.sources.transcripts import synth_transcripts
from gliner_spark.streaming.ingest import read_transcript_stream, stream_to_kg

LABELS = ["person", "organization", "tool"]


@pytest.fixture(scope="module")
def landing_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("landing"))
    synth_transcripts(spark, n_convs=15).write.mode("overwrite").parquet(d)
    return d


def test_stream_matches_batch(spark, landing_dir, tmp_path_factory):
    from gliner_spark.operators.ner import extract_entities

    stream = read_transcript_stream(spark, landing_dir)
    assert stream.isStreaming
    # the batch operator, unchanged, on a stream; ts rides through
    ents = extract_entities(
        stream, LABELS, passthrough=("conv_id", "turn_idx", "ts")
    )
    sink = "stream_ents"
    q = (
        ents.writeStream.format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            str(tmp_path_factory.mktemp("ckpt_ents")),
        )
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label)
        for r in spark.sql(f"select * from {sink}").collect()
    }
    batch = spark.read.parquet(landing_dir)
    exp = {
        (r.conv_id, r.turn_idx, r.start, r.end, r.label)
        for r in extract_entities(batch, LABELS).collect()
    }
    assert got == exp and len(got) > 0


def test_stream_to_kg_idempotent(spark, landing_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    ckpt = str(tmp_path_factory.mktemp("kg_ckpt"))
    stream = read_transcript_stream(spark, landing_dir)
    q = stream_to_kg(stream, out, ckpt, LABELS, ["uses"])
    q.awaitTermination(600)
    t1 = spark.read.parquet(f"{out}/triples_stream")
    n1 = t1.count()
    assert n1 > 0
    # restart with same checkpoint: no new data → no change
    q2 = stream_to_kg(
        read_transcript_stream(spark, landing_dir), out, ckpt, LABELS, ["uses"]
    )
    q2.awaitTermination(600)
    assert spark.read.parquet(f"{out}/triples_stream").count() == n1
