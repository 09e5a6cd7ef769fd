"""End-to-end training-data curation pipeline as a spark-submit job —
the corpus-side twin of tools/pipeline_job.py:

  ZIP=$(python -c "from gliner_spark.plans.session import \
        build_package_zip; print(build_package_zip())")
  spark-submit --master local[32] --driver-memory 16g \
      --py-files $ZIP tools/curation_job.py \
      --out /root/repo/_out/curation --n-docs 1000000

Runs (or RESUMES — rerun with the same --out and completed stages are
read back via the lineage table) line-dedup → tagger mixer → attrition
→ shuffle shards → sequence packing. Prints one JSON line of stage row
counts, the total wall and each stage's wall from the lineage table.
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

BLOCKLIST = tuple(f"w{i * 997 % 50000}" for i in range(32))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/repo/_out/curation")
    ap.add_argument("--n-docs", type=int, default=200_000)
    ap.add_argument("--input", default=None,
                    help="existing docs parquet (else synthesized)")
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--max-len", type=int, default=1024)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from gliner_spark.curation_pipeline import (
        run_curation_pipeline,
        synth_corpus,
    )
    from gliner_spark.plans.session import worker_env_confs

    builder = (
        SparkSession.builder.appName("curation-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in worker_env_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if args.input:
        docs = spark.read.parquet(args.input)
        token = f"parquet:{args.input}"
    else:
        docs = synth_corpus(spark, args.n_docs)
        token = f"synth:{args.n_docs}"

    # benchmark set for decontamination: a held-out slice of the corpus
    bench = docs.where("doc_id % 199 = 0").select("doc_id", "text")

    t0 = time.time()
    res = run_curation_pipeline(
        spark,
        docs,
        args.out,
        input_token=token,
        blocklist_terms=BLOCKLIST,
        benchmark_docs=bench,
        benchmark_token=f"{token}:mod199",
        mixture_budgets={"src0": 10_000_000_000},
        mixture_default_budget=5_000_000_000,
        n_shards=args.n_shards,
        max_len=args.max_len,
    )
    report = {r["reason"]: r["n_docs"] for r in res.report.collect()}
    wall_s = round(time.time() - t0, 2)
    lineage = res.runner.lineage().orderBy("completed_at").collect()
    print(
        json.dumps(
            {
                "out": args.out,
                "wall_s": wall_s,
                "docs_in": report.get("total", 0),
                "docs_kept": report.get("kept", 0),
                "attrition": {
                    k: v
                    for k, v in sorted(report.items())
                    if k not in ("total", "kept")
                },
                "shards": res.shards.count(),
                "packed_rows": res.packed.count(),
                "lineage_rows": len(lineage),
                # stage -> wall_s of its latest lineage row (a resumed
                # stage keeps the wall of the run that computed it)
                "stage_wall_s": {
                    r["stage"]: round(r["wall_s"], 2) for r in lineage
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
