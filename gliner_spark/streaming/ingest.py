"""Structured-Streaming surface (SURVEY §2.10).

The reference is strictly batch and the north rule requires batch +
checkpoint/resume, but a live transcript feed is the natural production
shape for this engine, so the streaming path is first-class:

 * `read_transcript_stream` — file-source stream over an Iceberg/parquet
   landing dir (micro-batch = newly arrived files). The extraction stage
   (operators/ner.py mapInArrow) is a NARROW streaming transformation, so
   the same code serves batch and stream — only watermarks and sinks
   differ. `ts` rides through extraction via the passthrough gather.
 * `stream_to_kg` — foreachBatch bridge: each micro-batch runs the batch
   triple extractor and writes the triples table's partition for the
   checkpointed batch_id, so a replay overwrites its own partition
   (overwrite-by-batch-id) instead of duplicating: Structured Streaming's
   exactly-once file-sink contract. It writes no lineage rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig, DEFAULT
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .format("parquet")
        .option("path", landing_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load()


def stream_to_kg(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    entity_types: list[str],
    relations: list[str],
    cfg: PipelineConfig | None = None,
):
    """foreachBatch bridge: micro-batch → fused triple extraction →
    append to <out_dir>/triples_stream partitioned by batch_id (idempotent
    on replay: a re-delivered batch_id overwrites its own partition only).
    Returns the StreamingQuery."""
    from ..operators.relations import extract_triples

    cfg = cfg or DEFAULT

    def process(batch_df: DataFrame, batch_id: int) -> None:
        triples = extract_triples(batch_df, relations, entity_types, cfg)
        (
            triples.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/triples_stream")
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
