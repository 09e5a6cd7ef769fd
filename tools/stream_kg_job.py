"""Live KG maintenance end-to-end: transcript micro-batches arrive in
waves, each availableNow pass (1) extracts fused NER+RE triples and
appends them idempotently (streaming/ingest.stream_to_kg, overwrite-by-
batch-id), then (2) folds the NEW triples' edges into crash-safe rank
generations with a warm-started PageRank refresh
(streaming/graphrank.stream_pagerank — marker-last `_meta_b*.json`,
replay no-ops). WITHIN a run the waves share both checkpoints, so each
pass only processes newly landed files; a fresh INVOCATION wipes `--out`
and the rank store and starts over (the crash-resume property itself
is the components' contract, pinned in test_streaming.py /
test_streaming_graphrank.py — this tool demonstrates the composed
flow, not cross-invocation resume).

Usage: python tools/stream_kg_job.py [--out _out/stream_kg]
       [--n-convs 600] [--waves 3]
Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gliner_spark.plans.session import build_session  # noqa: E402

ENTITY_TYPES = ["person", "organization", "location", "service", "tool"]
RELATIONS = ["works for", "located in", "uses"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="_out/stream_kg")
    ap.add_argument("--n-convs", type=int, default=600)
    ap.add_argument("--waves", type=int, default=3)
    args = ap.parse_args()

    from gliner_spark.plans import commit
    from gliner_spark.sources.transcripts import synth_transcripts
    from gliner_spark.streaming.graphrank import (
        current_ranks,
        stream_pagerank,
    )
    from gliner_spark.streaming.ingest import (
        read_transcript_stream,
        stream_to_kg,
    )

    spark = build_session(app_name="stream-kg", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    out = args.out
    shutil.rmtree(out, ignore_errors=True)
    # fresh run: drop the rank store a previous run left behind
    shutil.rmtree(
        commit.store_dir(spark, "stream_kg_job_ranks"), ignore_errors=True
    )
    landing = os.path.join(out, "landing")
    res = {"waves": args.waves, "n_convs": args.n_convs, "wave_wall_s": []}

    t = synth_transcripts(spark, n_convs=args.n_convs).cache()
    res["n_turns"] = t.count()
    per_wave = [
        t.where(F.pmod(F.xxhash64("conv_id"), F.lit(args.waves)) == w)
        for w in range(args.waves)
    ]

    for w in range(args.waves):
        t0 = time.time()
        per_wave[w].write.mode("append").parquet(landing)
        q1 = stream_to_kg(
            read_transcript_stream(spark, landing),
            out,
            os.path.join(out, "ckpt_triples"),
            ENTITY_TYPES,
            RELATIONS,
        )
        if not q1.awaitTermination(600):
            raise RuntimeError("triple-extraction wave exceeded 600s")
        edge_stream = (
            spark.readStream.schema(
                spark.read.parquet(f"{out}/triples_stream").schema
            )
            .parquet(f"{out}/triples_stream")
            .select(
                F.xxhash64("subj").alias("src"),
                F.xxhash64("obj").alias("dst"),
            )
        )
        q2 = stream_pagerank(
            edge_stream,
            "stream_kg_job_ranks",  # store dir under the warehouse
            os.path.join(out, "ckpt_ranks"),
        )
        if not q2.awaitTermination(600):
            raise RuntimeError("rank-fold wave exceeded 600s")
        res["wave_wall_s"].append(round(time.time() - t0, 1))

    triples = spark.read.parquet(f"{out}/triples_stream")
    res["triples"] = triples.count()
    res["batches"] = triples.select("batch_id").distinct().count()
    ranks = current_ranks(spark, "stream_kg_job_ranks")
    res["ranked_vertices"] = ranks.count()
    top = ranks.orderBy(F.col("rank").desc()).first()
    res["top_rank"] = round(top["rank"], 6)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
