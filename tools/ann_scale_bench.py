"""ANN at scale: brute-force vs the persisted IVF index (exact in-cell
scoring, partition-pruned) vs the persisted IVF-PQ index on a 1M-vector
synthetic corpus (the sf0.1 embeddings table is 5k rows — too small to
show either index doing its job).

Corpus: 1,000,000 × dim-64 clustered vectors (256 hash-seeded centers,
±50% hash-noise — enough within-cluster spread that top-10 neighborhoods
are well-conditioned rather than thousand-way near-ties) generated by
PURE native expressions — no driver data, no numpy — written once as
parquet. Queries: 32 corpus members.

Measured (warm):
  * brute-force exact top-10 (the declared oracle path: one full corpus
    scan per query batch, interpreted 64-dim dot per row);
  * index build cost for both layouts (pay-once; coarse k-means trains
    on a 64k hash-uniform sample — the FAISS recipe, train_cap);
  * IVF exact probe top-10 at n_probe=8/64 cells — the SPEED story:
    dynamic partition pruning reads 1/8 of the corpus at the same
    per-row cost;
  * IVF-PQ ADC probe top-10 (+exact refine) — the PAYLOAD story: 8 B
    packed code per row instead of 512 B of floats;
  * recall@10 of each probe vs brute force, and the on-disk ratio.

Prints ONE JSON line. Writes under _out/ (gitignored).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gliner_spark.plans.session import build_session  # noqa: E402

N = int(os.environ.get("ANN_N", 1_000_000))
REFINE = int(os.environ.get("ANN_REFINE", 200))
DIM = 64
N_CENTERS = 256
N_CELLS = 64
N_PROBE = 8
TRAIN_CAP = 65536
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_out", "ann"
)


def synth_embeddings(spark, n: int):
    """center(hash(id)) + noise(hash(id,d)) — deterministic, all native:
    each coordinate is two xxhash64-derived uniforms in [-1, 1], the
    center one shared by every member of the vector's hash-cluster and
    the noise one at half amplitude (clusters stay separable, but
    within-cluster distances are well-spread, so exact top-10 sets are
    stable under small scoring perturbations)."""
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.xxhash64(F.lit("k"), F.col("id")), F.lit(N_CENTERS)).alias(
            "k"
        ),
    )
    emb = F.expr(
        f"transform(sequence(0, {DIM - 1}), d -> "
        f"(cast(pmod(xxhash64('c', k, d), 2001) as double) - 1000.0) / 1000.0"
        f" + 0.5 * ((cast(pmod(xxhash64('n', vec_id, d), 2001) as double)"
        f" - 1000.0) / 1000.0))"
    )
    return df.select("vec_id", emb.alias("embedding"))


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main():
    from gliner_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        knn_bruteforce,
        knn_ivf_indexed,
        knn_ivfpq_indexed,
    )

    spark = build_session(app_name="ann-scale", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(OUT, ignore_errors=True)
    corpus_path = os.path.join(OUT, "corpus")
    ivf_path = os.path.join(OUT, "ivf")
    pq_path = os.path.join(OUT, "ivfpq")

    t0 = time.time()
    synth_embeddings(spark, N).repartition(64).write.parquet(corpus_path)
    synth_s = time.time() - t0
    corpus = spark.read.parquet(corpus_path)
    queries = corpus.where("vec_id < 32").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries = queries.localCheckpoint()

    # one scan only: it is both the timing sample and the exact set —
    # at 1M rows the interpreted-dot scan dominates the whole script
    t0 = time.time()
    brows = knn_bruteforce(corpus, queries, k=10).collect()
    brute_s = time.time() - t0
    exact = {(r.query_id, r.vec_id) for r in brows}

    t0 = time.time()
    build_ivf_index(
        corpus, ivf_path, n_cells=N_CELLS, kmeans_iter=3, train_cap=TRAIN_CAP
    )
    ivf_build_s = time.time() - t0
    t0 = time.time()
    ivf_rows = knn_ivf_indexed(
        spark, ivf_path, queries, k=10, n_probe=N_PROBE
    ).collect()
    ivf_query_s = time.time() - t0
    ivf_got = {(r.query_id, r.vec_id) for r in ivf_rows}

    t0 = time.time()
    build_ivfpq_index(
        corpus, pq_path, n_cells=N_CELLS, m=8, nbits=4,
        kmeans_iter=3, pq_iter=2, train_cap=TRAIN_CAP,
    )
    pq_build_s = time.time() - t0
    t0 = time.time()
    pq_rows = knn_ivfpq_indexed(
        spark, pq_path, queries, k=10, n_probe=N_PROBE,
        refine=REFINE, source=corpus,
    ).collect()
    pq_query_s = time.time() - t0
    pq_got = {(r.query_id, r.vec_id) for r in pq_rows}

    # ADC probe only (no refine), run twice and reported WARM (second
    # call): the first call pays python-worker spin-up
    for _ in range(2):
        t0 = time.time()
        knn_ivfpq_indexed(
            spark, pq_path, queries, k=10, n_probe=N_PROBE
        ).collect()
        adc_arrow_s = time.time() - t0

    result = {
        "metric": "ann_scale_1m",
        "n_vectors": N,
        "dim": DIM,
        "synth_write_s": round(synth_s, 2),
        "brute_force_s": round(brute_s, 2),
        "ivf_build_s": round(ivf_build_s, 2),
        "ivf_query_s": round(ivf_query_s, 2),
        "ivf_speedup_vs_brute": round(brute_s / ivf_query_s, 1),
        "ivf_recall_at_10": round(len(exact & ivf_got) / len(exact), 4),
        "ivfpq_build_s": round(pq_build_s, 2),
        "ivfpq_query_s": round(pq_query_s, 2),
        "ivfpq_adc_probe_arrow_s": round(adc_arrow_s, 2),
        "ivfpq_recall_at_10": round(len(exact & pq_got) / len(exact), 4),
        "corpus_bytes": du(corpus_path),
        "ivfpq_bytes": du(pq_path),
        "payload_ratio": round(du(corpus_path) / du(pq_path), 1),
        "n_probe": N_PROBE,
        "refine": REFINE,
        "n_cells": N_CELLS,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
