"""End-to-end training-data curation pipeline — the corpus-side twin of
`pipeline.py`'s KG dataflow, chaining the data-preparation operators a
100 TB pre-training run needs into one resumable, lineage-tracked job:

raw docs ──► docs_clean   [cross-doc line dedup: boilerplate removal]
        ──► decisions     [parallel taggers: exact/near dedup, quality,
                           repetition, blocklist, decontamination +
                           token-budget mixing — curate_corpus]
        ──► attrition     [reason histogram from persisted decisions]
        ──► shards        [deterministic md5 shuffle-shard assignment
                           over the kept docs]
        ──► packed        [concat-and-chunk sequence packing per shard]

Every stage is MATERIALIZED to parquet with a lineage row and
per-partition metrics; stage fingerprints chain, so changing e.g. the
blocklist reruns decisions and everything downstream while the cleaned
corpus is reused from disk (same resume contract as the KG pipeline,
`plans/lineage.py`).

Scale shape: docs_clean is one (hash, count) aggregate + a broadcast
pure-map rewrite. In decisions the per-doc taggers are flag columns of
one projection over the cleaned corpus, the relational taggers (exact
and near dedup, perplexity, decontamination) left-join their loser ids
onto it, and the flag frame is materialized once, before the budget
mixer reads it. shards is one hash exchange; packed shuffles once on
the shard key and holds only (doc_id, n_tokens) metadata per task. No
stage's state grows with the corpus except the boilerplate drop set
(min_df-bounded by construction).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.curation import attrition_report, curate_corpus
from .operators.dedup import drop_common_lines
from .operators.packing import chunk_pack, shuffle_export
from .plans.lineage import StageRunner, fingerprint


@dataclass
class CurationResult:
    cleaned: DataFrame
    decisions: DataFrame
    report: DataFrame
    shards: DataFrame
    packed: DataFrame
    runner: StageRunner


def run_curation_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    input_token: str,
    min_line_df: int = 2,
    min_quality: float = 0.5,
    blocklist_terms: tuple[str, ...] | None = None,
    benchmark_docs: DataFrame | None = None,
    benchmark_token: str = "none",
    mixture_budgets: dict[str, int] | None = None,
    mixture_group_col: str = "source",
    mixture_default_budget: int = 0,
    near_dup_threshold: float = 0.8,
    n_shards: int = 64,
    max_len: int = 1024,
) -> CurationResult:
    """`input_token` and `benchmark_token` are stable identity strings
    for the two inputs (path, snapshot id, …) — they root the
    fingerprint chain exactly as in `run_pipeline`."""
    runner = StageRunner(spark, out_dir)

    fp_clean = fingerprint("docs_clean", input_token, min_line_df)
    cleaned = runner.run_stage(
        "docs_clean",
        fp_clean,
        lambda: drop_common_lines(docs, min_df=min_line_df),
    )

    fp_dec = fingerprint(
        "decisions",
        fp_clean,
        min_quality,
        blocklist_terms,
        benchmark_token,
        mixture_budgets,
        mixture_group_col,
        mixture_default_budget,
        near_dup_threshold,
    )
    decisions = runner.run_stage(
        "decisions",
        fp_dec,
        lambda: curate_corpus(
            cleaned,
            min_quality=min_quality,
            blocklist_terms=blocklist_terms,
            benchmark_docs=benchmark_docs,
            near_dup_threshold=near_dup_threshold,
            mixture_budgets=mixture_budgets,
            mixture_group_col=mixture_group_col,
            mixture_default_budget=mixture_default_budget,
        )[0],
    )

    fp_rep = fingerprint("attrition", fp_dec)
    report = runner.run_stage(
        "attrition", fp_rep, lambda: attrition_report(decisions)
    )

    kept = cleaned.join(
        decisions.where("keep").select("doc_id"), "doc_id"
    )

    fp_sh = fingerprint("shards", fp_dec, n_shards)
    shards = runner.run_stage(
        "shards",
        fp_sh,
        lambda: shuffle_export(kept, n_shards=n_shards),
        partition_by=["shard"],
    )

    fp_pk = fingerprint("packed", fp_dec, fp_sh, max_len, n_shards)
    packed = runner.run_stage(
        "packed",
        fp_pk,
        lambda: chunk_pack(kept, max_len=max_len, n_shards=n_shards),
        partition_by=["shard"],
    )

    return CurationResult(
        cleaned=cleaned,
        decisions=decisions,
        report=report,
        shards=shards,
        packed=packed,
        runner=runner,
    )


def synth_corpus(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic synthetic document corpus for tests/benchmarks of
    the curation pipeline (native expressions only, scales to any size):
    4 body lines × 12 hash-vocabulary words, a per-group shared line
    (doc_id % 997 — realistic mid-frequency boilerplate), a global
    header on doc_id % 3 == 0, a global footer on doc_id % 5 == 0, and
    `source` = 'src' + (doc_id % 3) for mixture budgeting. Every
    doc_id % 50 == 0 doc re-enters verbatim under doc_id + 10^9 so the
    exact-dup tagger has real work."""
    body_line = (
        "li -> concat_ws(' ', transform(sequence(0, 11), "
        "wi -> concat('w', pmod(xxhash64('w', id, li, wi), 50000))))"
    )
    group_line = (
        "concat_ws(' ', transform(sequence(0, 7), "
        "gi -> concat('g', pmod(xxhash64('g', pmod(id, 997), gi), 50000))))"
    )
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), F.pmod("id", F.lit(3))).alias("source"),
        F.expr(
            "concat_ws('\\n', "
            "case when id % 3 = 0 then 'subscribe to our newsletter' end, "
            f"concat_ws('\\n', transform(sequence(0, 3), {body_line})), "
            f"{group_line}, "
            "case when id % 5 = 0 then 'copyright acme corp' end)"
        ).alias("text"),
    )
    dups = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "source", "text"
    )
    return base.unionByName(dups)
