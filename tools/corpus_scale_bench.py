"""Corpus ops at scale: the r4 additions (cross-doc line dedup,
shuffle-shard export, blocklist tagging, RAG chunking) on a 1M-document
synthetic corpus — the sf0.1 documents table is 5k rows, far too small
to show per-op throughput or the broadcast drop-set cost.

Corpus: 1,000,000 multi-line docs generated by PURE native expressions
(no driver data): 4 body lines × 12 hash-vocabulary words (50k vocab),
plus three planted boilerplate shapes that line dedup must remove —
  * a global header on every doc_id % 3 == 0 (df ≈ 333k),
  * a global footer on every doc_id % 5 == 0 (df ≈ 200k),
  * a GROUP line keyed by doc_id % 997 (997 distinct lines, df ≈ 1000
    each) — so the broadcast drop set holds ~1k entries, exercising the
    per-line array_contains probe at a realistic boilerplate-set size.

Measured (warm, after one synth write):
  * drop_common_lines (broadcast side) wall + docs/s, and a
    correctness probe (all three planted shapes gone, bodies kept);
  * shuffle_export at 1024 shards: wall + max/mean shard-size skew;
  * blocklist_stats with a 200-term list (the one-row-broadcast path):
    wall + share of docs hit;
  * chunk_documents (chunk=48, overlap=8, no text payload): wall +
    chunks emitted.

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

N = int(os.environ.get("CORPUS_N", 1_000_000))
N_SHARDS = 1024
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "_out",
    "corpus_scale",
)

HEADER = "subscribe to our newsletter for updates"
FOOTER = "copyright acme corp all rights reserved"


def synth_docs(spark, n: int, start: int = 0):
    body_line = (
        "li -> concat_ws(' ', transform(sequence(0, 11), "
        "wi -> concat('w', pmod(xxhash64('w', id, li, wi), 50000))))"
    )
    group_line = (
        "concat_ws(' ', transform(sequence(0, 7), "
        "gi -> concat('g', pmod(xxhash64('g', pmod(id, 997), gi), 50000))))"
    )
    return spark.range(start, start + n).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws('\\n', "
            f"case when id % 3 = 0 then '{HEADER}' end, "
            f"concat_ws('\\n', transform(sequence(0, 3), {body_line})), "
            f"{group_line}, "
            f"case when id % 5 = 0 then '{FOOTER}' end)"
        ).alias("text"),
    )


def main():
    from gliner_spark.operators.dedup import drop_common_lines
    from gliner_spark.operators.packing import chunk_documents, shuffle_export
    from gliner_spark.operators.textstats import blocklist_stats

    spark = build_session(app_name="corpus-scale", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(OUT, ignore_errors=True)
    path = os.path.join(OUT, "docs")

    t0 = time.time()
    synth_docs(spark, N).repartition(64).write.parquet(path)
    synth_s = time.time() - t0
    docs = spark.read.parquet(path)

    # ---- cross-doc line dedup: min_df between body df (1) and group
    # df (~N/997) so the planted lines drop and bodies survive at any N
    min_df = max(2, N // 997 // 2)
    t0 = time.time()
    cleaned = drop_common_lines(docs, min_df=min_df)
    agg = cleaned.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_dropped").alias("dropped"),
        F.sum(
            F.when(
                F.col("text").contains(HEADER)
                | F.col("text").contains(FOOTER),
                1,
            ).otherwise(0)
        ).alias("boiler_left"),
        F.sum(F.when(F.col("text").contains("\ng"), 1).otherwise(0)).alias(
            "group_left"
        ),
    ).collect()[0]
    line_dedup_s = time.time() - t0
    assert agg["boiler_left"] == 0, "planted header/footer survived"
    assert agg["group_left"] == 0, "planted group lines survived"
    # every doc loses its group line; header/footer on the planted ids
    expect_dropped = N + (N + 2) // 3 + (N + 4) // 5
    assert agg["dropped"] == expect_dropped, (agg["dropped"], expect_dropped)

    # ---- shuffle-shard export
    t0 = time.time()
    sh = shuffle_export(docs, n_shards=N_SHARDS, seed=1)
    sizes = sh.groupBy("shard").count()
    srow = sizes.agg(
        F.count(F.lit(1)).alias("shards"),
        F.max("count").alias("mx"),
        F.avg("count").alias("mean"),
    ).collect()[0]
    shuffle_s = time.time() - t0
    assert srow["shards"] == N_SHARDS

    # ---- blocklist tagging, 200-term one-row-broadcast path
    terms = [f"w{i * 251 % 50000}" for i in range(200)]
    t0 = time.time()
    brow = (
        blocklist_stats(docs, terms)
        .agg(
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0)).alias("hit"),
            F.sum("n_hits").alias("total_hits"),
        )
        .collect()[0]
    )
    blocklist_s = time.time() - t0

    # ---- RAG chunking (layout only — with_text=False)
    t0 = time.time()
    n_chunks = chunk_documents(
        docs, chunk_tokens=48, overlap=8, with_text=False
    ).count()
    chunk_s = time.time() - t0

    # ---- BPE tokenizer: train on the corpus, then encode it
    from gliner_spark.operators.bpe import bpe_encode, train_bpe

    t0 = time.time()
    model = train_bpe(docs, n_merges=256, max_words=65536)
    bpe_train_s = time.time() - t0
    t0 = time.time()
    erow = (
        bpe_encode(docs, model)
        .agg(
            F.sum("n_tokens").alias("tok"),
            F.sum("n_pretokens").alias("pre"),
        )
        .collect()[0]
    )
    bpe_encode_s = time.time() - t0
    assert erow["tok"] <= erow["pre"] * 16

    # ---- unicode cleaning (full chain incl. the NFC pandas_udf)
    from gliner_spark.operators.textstats import clean_text

    t0 = time.time()
    crow = (
        clean_text(docs)
        .agg(F.sum("n_chars_norm").alias("nc"))
        .collect()[0]
    )
    clean_s = time.time() - t0
    assert crow["nc"] > 0

    # ---- incremental exact dedup: fold the 1M corpus into a Bloom
    # bitmap once, then dedup a 100k ingest shard (half exact dups of
    # corpus docs — synth is deterministic in doc_id — half novel ids)
    from gliner_spark.functions.text import normalized_text
    from gliner_spark.operators.dedup import (
        bloom_probe,
        build_exact_bloom,
        exact_dedup_against_bloom,
    )

    t0 = time.time()
    bloom = build_exact_bloom(docs, n_items=N, fpr=0.01)
    bloom_build_s = time.time() - t0

    n_shard = min(100_000, N)
    shard = synth_docs(spark, n_shard, start=N - n_shard // 2)
    corpus_hashes = docs.select(
        F.md5(normalized_text(F.col("text"))).alias("content_hash")
    )
    t0 = time.time()
    n_surv = exact_dedup_against_bloom(shard, corpus_hashes, bloom).count()
    bloom_dedup_s = time.time() - t0
    assert n_surv == n_shard - n_shard // 2, n_surv  # exactly the novel half
    # observed fp rate on the provably-novel half (ids >= N)
    n_fp = (
        bloom_probe(shard, bloom)
        .where((F.col("doc_id") >= N) & F.col("maybe_dup"))
        .count()
    )

    print(
        json.dumps(
            {
                "metric": "corpus_ops_1m",
                "n_docs": N,
                "synth_write_s": round(synth_s, 1),
                "line_dedup": {
                    "wall_s": round(line_dedup_s, 1),
                    "docs_per_s": round(N / line_dedup_s),
                    "lines_dropped": int(agg["dropped"]),
                },
                "shuffle_export": {
                    "wall_s": round(shuffle_s, 1),
                    "docs_per_s": round(N / shuffle_s),
                    "shards": int(srow["shards"]),
                    "max_over_mean": round(srow["mx"] / srow["mean"], 3),
                },
                "blocklist": {
                    "wall_s": round(blocklist_s, 1),
                    "docs_per_s": round(N / blocklist_s),
                    "frac_docs_hit": round(brow["hit"] / N, 4),
                },
                "rag_chunking": {
                    "wall_s": round(chunk_s, 1),
                    "docs_per_s": round(N / chunk_s),
                    "n_chunks": int(n_chunks),
                },
                "bpe": {
                    "train_wall_s": round(bpe_train_s, 1),
                    "n_merges": len(model.merges),
                    "encode_wall_s": round(bpe_encode_s, 1),
                    "encode_docs_per_s": round(N / bpe_encode_s),
                    "tokens_per_pretoken": round(
                        erow["tok"] / erow["pre"], 3
                    ),
                },
                "clean_text": {
                    "wall_s": round(clean_s, 1),
                    "docs_per_s": round(N / clean_s),
                },
                "bloom_dedup": {
                    "build_wall_s": round(bloom_build_s, 1),
                    "build_docs_per_s": round(N / bloom_build_s),
                    "bitmap_mb": round(len(bloom["words"]) * 8 / 2**20, 2),
                    "shard_dedup_wall_s": round(bloom_dedup_s, 1),
                    "shard_docs_per_s": round(n_shard / bloom_dedup_s),
                    "observed_fpr": round(n_fp / (n_shard - n_shard // 2), 4),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
