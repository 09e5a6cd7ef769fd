"""End-to-end KG pipeline as a spark-submit job (the north rule's
deployment shape: `spark-submit --py-files` on a cluster).

  ZIP=$(python -c "from gliner_spark.plans.session import \
        build_package_zip; print(build_package_zip())")
  spark-submit --master local[32] --driver-memory 16g \
      --py-files $ZIP tools/pipeline_job.py \
      --out /root/repo/_out/kg --n-convs 2000

(local mode runs executors inside the driver JVM — size --driver-memory
for the shuffle stages; spark-submit's 1g default OOMs beyond ~50k turns)

Runs (or RESUMES — rerun with the same --out and it skips completed
stages via the lineage table) the full dataflow: extraction → fused RE
triples → co-occurrence → linking/canonicalization → nodes/edges +
lineage/metrics. Prints one JSON line of stage row counts plus, under
"stages", each stage's start, end and wall_s from its latest lineage row
(start = completed_at − wall_s; start and end in seconds since
run_pipeline was called, negative for a stage resumed from an earlier
run). Independent stages run at once, so overlapping [start, end]
windows and the critical path read straight off the line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gliner_spark.plans.session import _set_worker_env_defaults  # noqa: E402

_set_worker_env_defaults()

ENTITY_TYPES = ["person", "organization", "location", "service", "tool"]
RELATIONS = ["works for", "located in", "uses"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/repo/_out/kg")
    ap.add_argument("--n-convs", type=int, default=2000)
    ap.add_argument("--input", default=None,
                    help="existing transcripts parquet (else synthesized)")
    ap.add_argument(
        "--tokenizer", default="universal",
        help="splitter registry name (kernel/tokenizer.py). Default "
        "'universal' auto-dispatches PER TURN: the CJK-codepoint presence "
        "check is the language-ID heuristic, so zh/ja/ko text gets "
        "per-character spans and everything else the whitespace regex — "
        "strictly finer than routing a whole conversation by language_id, "
        "at the cost of one regex search per turn (measured +2.1%% on the "
        "extraction stage, BASELINE.md).")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from gliner_spark.config import PipelineConfig
    from gliner_spark.pipeline import run_pipeline
    from gliner_spark.sources.transcripts import synth_transcripts

    from gliner_spark.plans.session import worker_env_confs

    builder = (
        SparkSession.builder.appName("kg-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # executorEnv so the worker malloc/BLAS/Arrow tuning survives
    # spark-submit from a shell that didn't export it (session.py)
    for k, v in worker_env_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if args.input:
        transcripts = spark.read.parquet(args.input)
        token = f"parquet:{args.input}"
    else:
        transcripts = synth_transcripts(spark, args.n_convs)
        token = f"synth:{args.n_convs}"

    t0 = time.time()
    res = run_pipeline(
        spark, transcripts, args.out, ENTITY_TYPES, RELATIONS,
        cfg=PipelineConfig(tokenizer=args.tokenizer),
        input_token=token,
    )
    wall_s = time.time() - t0
    lineage = sorted(res.runner.lineage().collect(), key=lambda r: r.completed_at)
    latest = {r.stage: r for r in lineage}
    stages = {
        st: {
            "start": round(r.completed_at.timestamp() - r.wall_s - t0, 2),
            "end": round(r.completed_at.timestamp() - t0, 2),
            "wall_s": round(r.wall_s, 2),
        }
        for st, r in latest.items()
    }
    print(
        json.dumps(
            {
                "out": args.out,
                "wall_s": round(wall_s, 2),
                "entities": res.entities.count(),
                "triples_re": res.triples.count(),
                "triples_cooccur": res.cooccur.count(),
                "canon_surfaces": res.canon_map.count(),
                "nodes": res.nodes.count(),
                "edges": res.edges.count(),
                "lineage_rows": res.runner.lineage().count(),
                "stages": stages,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
