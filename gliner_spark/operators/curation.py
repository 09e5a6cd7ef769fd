"""Data-curation workflow: k-fold splits + model-confidence annotation.

Spark-first restatement of the reference's training-data curation utility
(create_confidence_splits.py): split a dataset into k folds, score the
CROSS PRODUCT of same-class gold starts × gold ends (ed >= st) with the
model's token-level confidence (min over inside scores plus the
start/end scores, candidates with any inside prob below the threshold
dropped, greedy non-overlap — `calculate_span_score` + `greedy_search`,
create_confidence_splits.py:16-59), and emit per-example confidence
tables that drive relabeling / curriculum decisions.

Differences from the reference, by design:
 * fold assignment is a DETERMINISTIC hash bucket (pmod(xxhash64(seed,
   id), k)) instead of sklearn KFold(shuffle, random_state) — the same
   example always lands in the same fold on any cluster size, with no
   global shuffle or driver-side index materialization (KFold needs the
   full index list in memory; a hash is the only shape that survives
   10^12 rows);
 * the scoring pass is one narrow mapInArrow stage over transcripts with
   their gold spans pre-grouped per turn — the reference's per-example
   DataLoader loop, vectorized and shuffle-minimal: the only shuffle is
   the gold-span groupBy and its join to transcripts on (conv_id,
   turn_idx), both on the natural key.

The span-confidence math itself lives in kernel/decode.score_fixed_spans,
shared verbatim with the pure-Python oracle (parity by construction).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..config import PipelineConfig, DEFAULT
from ..kernel.decode import score_fixed_spans
from ..kernel.scorer import get_scorer
from ..kernel.tokenizer import prep_tokens
from .ner import _scored_chunks, _to_batch

GOLD_CONF_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("tok_start", T.IntegerType(), False),
        T.StructField("tok_end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)


def kfold_assign(
    df: DataFrame,
    k: int = 5,
    seed: int = 42,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Append a deterministic `fold` column in [0, k). Equivalent role to
    the reference's KFold(shuffle=True, random_state=42) split
    (create_confidence_splits.py:75-78), as a stable hash bucket."""
    if k < 2:
        raise ValueError(f"k={k}: need at least 2 folds")
    return df.withColumn(
        "fold",
        F.pmod(F.xxhash64(F.lit(seed), *[F.col(c) for c in id_cols]), F.lit(k))
        .cast("int"),
    )


def score_gold_spans(
    transcripts: DataFrame,
    gold: DataFrame,
    entity_types: list[str],
    cfg: PipelineConfig | None = None,
    threshold: float = 0.4,
) -> DataFrame:
    """Annotate gold spans with model confidence.

    gold: (conv_id, turn_idx, tok_start, tok_end, label) — token-index
    spans (end inclusive) as in the reference's tokenized gold format.
    Returns the surviving candidate spans (same-class start × end cross
    product, reference gold branch) with a `confidence` column; spans
    whose label is outside `entity_types`, whose endpoints fall outside
    the (possibly truncated) token stream, or whose inside scores dip
    below `threshold` are dropped — reference semantics exactly.

    Plan shape: gold groupBy (conv_id, turn_idx) → join transcripts on the
    same key → ONE mapInArrow scoring stage (no per-row Python, Arrow
    batches; ragged span lists ride as list columns).
    """
    cfg = cfg or DEFAULT
    entity_types = list(dict.fromkeys(entity_types))
    label_mat = get_scorer(cfg.scorer).encode_labels(entity_types)
    cls_idx = {lab: i for i, lab in enumerate(entity_types)}

    grouped = gold.groupBy("conv_id", "turn_idx").agg(
        F.collect_list(
            F.struct(
                F.col("tok_start").cast("int").alias("s"),
                F.col("tok_end").cast("int").alias("e"),
                F.col("label").alias("l"),
            )
        ).alias("gold_spans")
    )
    joined = transcripts.select("conv_id", "turn_idx", "text").join(
        grouped, on=["conv_id", "turn_idx"], how="inner"
    )

    gold_arrow = to_arrow_schema(GOLD_CONF_SCHEMA)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        scorer = get_scorer(cfg.scorer)
        for batch in batches:
            conv = batch.column("conv_id").to_pylist()
            turn = batch.column("turn_idx").to_pylist()
            texts = batch.column("text").to_pylist()
            span_lists = batch.column("gold_spans").to_pylist()
            prepped = [prep_tokens(t, cfg.max_len, cfg.tokenizer) for t in texts]
            out = []
            # arrival-order chunks under the token scorer's (width 3) budget
            for rows, ids in _scored_chunks(
                scorer, prepped, list(range(len(texts))),
                [len(entity_types)] * len(texts), 3,
            ):
                probs = scorer.token_scores(ids, label_mat)
                for p, i in zip(probs, rows):
                    spans = [
                        (sp["s"], sp["e"], cls_idx[sp["l"]])
                        for sp in span_lists[i]
                        if sp["l"] in cls_idx
                    ]
                    out += [
                        (conv[i], turn[i], st, ed, entity_types[ci], float(sc))
                        for st, ed, ci, sc in score_fixed_spans(
                            p,
                            spans,
                            len(prepped[i][0]),
                            threshold,
                            flat_ner=cfg.flat_ner,
                            multi_label=cfg.multi_label,
                        )
                    ]
            yield _to_batch(out, gold_arrow)

    return joined.mapInArrow(run, GOLD_CONF_SCHEMA)


def confidence_splits(
    transcripts: DataFrame,
    gold: DataFrame,
    entity_types: list[str],
    k: int = 5,
    cfg: PipelineConfig | None = None,
    threshold: float = 0.4,
    seed: int = 42,
) -> DataFrame:
    """The full curation table: per example (conv_id, turn_idx) — fold
    assignment, surviving gold-span count, and min/mean model confidence
    (examples whose every gold span is dropped keep n_spans = 0 with null
    confidences, so low-confidence data is visible, not silently lost)."""
    scored = score_gold_spans(transcripts, gold, entity_types, cfg, threshold)
    per_example = scored.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.min("confidence").alias("min_confidence"),
        F.avg("confidence").alias("mean_confidence"),
    )
    examples = transcripts.join(
        gold.select("conv_id", "turn_idx").distinct(),
        on=["conv_id", "turn_idx"],
        how="inner",
    ).select("conv_id", "turn_idx")
    base = kfold_assign(examples, k, seed)
    return base.join(per_example, on=["conv_id", "turn_idx"], how="left").select(
        "conv_id",
        "turn_idx",
        "fold",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        "min_confidence",
        "mean_confidence",
    )


def quantile_buckets(
    df,
    score_col: str,
    n_buckets: int = 10,
    id_col: str = "doc_id",
):
    """Assign each row to a quantile bucket of `score_col` (1..n_buckets)
    — the curriculum / quality-tier op a training pipeline runs to mix
    data by quality decile. ntile over a TOTAL order (score, id): the id
    tiebreak makes bucket boundaries deterministic across engines and
    runs even when scores tie heavily (a bare ntile over ties is
    engine-dependent).

    Plan: a single global-sort window — one range-partitioned shuffle.
    At 10^12 rows the same semantics come from percentile_approx cut
    points + a broadcast range lookup; ntile is exact and is what the
    DuckDB oracle can replicate bit-for-bit."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
    return df.withColumn("bucket", F.ntile(n_buckets).over(w))


def stratified_sample(
    df,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
):
    """Deterministic per-stratum sampling — the data-mixing op (sample
    language/source/quality strata at different rates). A row survives
    iff u(id) < rate(stratum), where u is a uniform-ish value derived
    from md5(id): u = int(md5(str(id))[:8], 16) / 2^32.

    md5 (not xxhash64) on purpose: it is bit-identical across Spark,
    DuckDB, and Python, so the EXACT survivor set is oracle-checkable —
    and deterministic sampling means re-runs, resumes, and downstream
    joins all see the same rows (reservoir/random sampling cannot
    promise that). u is NOT rounded: int/2^32 is a power-of-two
    division, exact in binary, so the double is bit-identical on every
    engine and rounding could only blur the survivor boundary. Pure map
    expression, zero shuffle, trivially scale-independent."""
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    u = u.cast("double") / F.lit(float(1 << 32))
    rate = F.lit(default_rate)
    for k in sorted(rates):
        rate = F.when(F.col(strata_col) == k, F.lit(rates[k])).otherwise(rate)
    return df.withColumn("_u", u).where(F.col("_u") < rate)


def mixture_sample(
    df,
    group_col: str,
    budgets: dict[str, int],
    default_budget: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
):
    """Token-budget mixture sampling — the domain-mixing op used to
    assemble a pre-training corpus (Pile/Dolma-style): walk each group's
    documents in a deterministic-uniform order and keep them until the
    group's running token total reaches its budget. The doc that crosses
    the boundary is kept, so any group with documents makes progress
    even when its budget is smaller than its shortest doc.

    Determinism: the walk order is (u, id) where u is the same
    bit-identical md5 uniform as `stratified_sample` — re-runs, resumes,
    and both engines of the driver oracle see the exact same survivor
    set, and the order is uncorrelated with ingest order (a raw
    `order by id` would bias toward whatever sorted first upstream).

    Scale shape — the naive formulation is ONE window partitioned by
    group, which serializes each domain onto a single task (a 40 TB
    `web` domain = one executor). Instead, two passes over bounded
    state: (1) docs land in `n_buckets` sub-buckets by floor(u·B) —
    order-consistent with (u, id) since the bucket is a monotone
    function of u — and a per-(group, bucket) token-sum aggregate
    (≤ groups·B rows, tiny) takes a cumulative window to yield each
    bucket's STARTING offset; (2) the offsets broadcast-join back and
    the running sum runs inside (group, bucket) partitions only, so no
    window partition ever exceeds ~1/B of a domain. Keep iff
    offset + within-bucket prefix sum (exclusive) < budget.

    → (id, group, n_tokens, cum_tokens) for kept docs, where cum_tokens
    is the group's running total INCLUDING this doc.
    """
    from ..functions.text import token_count

    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    u = u.cast("double") / F.lit(float(1 << 32))
    base = df.select(
        id_col,
        group_col,
        token_count(F.col(text_col)).alias("n_tokens"),
        u.alias("_u"),
        F.floor(u * n_buckets).cast("int").alias("_bk"),
    )
    bucket_sums = base.groupBy(group_col, "_bk").agg(
        F.sum("n_tokens").alias("_btok")
    )
    off_w = (
        Window.partitionBy(group_col)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        group_col,
        "_bk",
        F.coalesce(F.sum("_btok").over(off_w), F.lit(0)).alias("_off"),
    )
    in_w = (
        Window.partitionBy(group_col, "_bk")
        .orderBy(F.col("_u").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.lit(default_budget)
    for k in sorted(budgets):
        budget = F.when(F.col(group_col) == k, F.lit(budgets[k])).otherwise(
            budget
        )
    cum_before = F.col("_off") + F.coalesce(
        F.sum("n_tokens").over(in_w), F.lit(0)
    )
    return (
        base.join(F.broadcast(offsets), [group_col, "_bk"])
        .withColumn("_cb", cum_before)
        .where(F.col("_cb") < budget)
        .select(
            id_col,
            group_col,
            "n_tokens",
            (F.col("_cb") + F.col("n_tokens")).alias("cum_tokens"),
        )
    )


# reason codes in the order they appear in a decision's `reasons`
# (over_budget, appended by the budget mixer, always comes last)
_REASONS = (
    "exact_dup",
    "near_dup",
    "low_quality",
    "repetitive",
    "bad_lang",
    "low_classifier_score",
    "high_perplexity",
    "blocklisted",
    "contaminated",
    "gopher_fail",
    "semantic_contaminated",
)


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    allowed_langs: set[str] | None = None,
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.3,
    benchmark_docs: DataFrame | None = None,
    decontam_n: int = 13,
    apply_gopher_rules: bool = False,
    doc_embeddings: DataFrame | None = None,
    benchmark_embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    near_dup_threshold: float = 0.8,
    blocklist_terms=None,
    max_blocklist_frac: float = 0.0,
    classifier_weights=None,
    min_classifier_prob: float = 0.5,
    lm_model=None,
    max_perplexity: float | None = None,
    mixture_budgets: dict[str, int] | None = None,
    mixture_group_col: str = "source",
    mixture_default_budget: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """One-call corpus curation — the Dolma mixer shape: every filter
    runs as an independent parallel TAGGER over the same corpus (exact
    dedup, transitive near-dedup, quality, repetition, language,
    blocklist, learned-classifier score, CCNet-style bigram-LM perplexity
    (`lm_model` + `max_perplexity`), benchmark decontamination,
    and optionally the full Gopher rule set (`apply_gopher_rules`) and
    embedding-space leakage (`doc_embeddings` keyed by doc_id +
    `benchmark_embeddings` → semantic_decontaminate)),
    then one mixer combines the tags into a
    keep/drop decision with reason codes, and the optional token-budget
    mixture pass runs LAST over the docs that survived everything else
    (budgets must count only tokens that can actually ship).

    Line-level boilerplate removal (`dedup.drop_common_lines`) is a
    text REWRITE, not a doc tag, so it deliberately stays out of the
    mixer: run it as a pre-pass and feed the cleaned corpus in here —
    quality/repetition taggers then score the text that would actually
    ship.

    Tagger-parallel (not sequential-stage) semantics on purpose: every
    tagger sees the whole corpus, and the flags are combined once
    instead of re-materializing the shrinking corpus per stage. Each
    tagger is evaluated exactly once:
      * the per-doc taggers (quality, repetition, language, classifier,
        blocklist, Gopher) are flag columns of ONE projection over the
        shared scan; the classifier weights and a >64-term blocklist
        ride in one-row frames broadcast-cross-joined onto it once;
      * the relational taggers contribute loser ids directly, each
        unique by construction and left-joined without a distinct:
        exact-dup group members, near-dup component members other than
        the component min, docs over the perplexity bound, and
        decontaminate's per-doc hit aggregate (no zero-fill join back
        to every doc). Only the semantic loser set is de-duplicated,
        since nothing keys `doc_embeddings` uniquely;
      * the flag frame is materialized once (an eager localCheckpoint)
        before the budget mixer, the only stage whose input depends on
        the others. The survivor join and the final projection read
        the stored frame, so the decisions plan reads `docs` only for
        the mixer instead of re-inlining every tagger per consumer.

    Returns (decisions, report):
      decisions  (doc_id, keep, reasons array<string>) — reasons empty
                 iff keep; a doc can carry several reasons, always in
                 `_REASONS` order with over_budget last (they are
                 diagnostics, not an execution order)
      report     (reason, n_docs) attrition counts plus 'total' and
                 'kept' rows — three aggregates over decisions (the
                 exploded reasons, all rows, kept rows) in one union,
                 no per-stage count jobs
    """
    from .dedup import exact_duplicates, minhash_near_duplicates
    from .linking import connected_components
    from .textstats import (
        blocklist_cols,
        blocklist_probe,
        language_cols,
        predicted_lang,
        quality_cols,
        repetition_cols,
    )

    # per-doc taggers: stat columns of ONE projection over the scan,
    # then their flags in a second level over those columns
    stats = {"quality": quality_cols(text_col)["quality"]}
    flags = {"low_quality": F.col("quality") < min_quality}
    rep = repetition_cols(text_col)
    stats["dup_line_frac"] = rep["dup_line_frac"]
    stats["top_bigram_frac"] = rep["top_bigram_frac"]
    flags["repetitive"] = (F.col("dup_line_frac") > max_dup_line_frac) | (
        F.col("top_bigram_frac") > max_top_bigram_frac
    )
    if allowed_langs is not None:
        stats.update(language_cols(text_col))
        flags["bad_lang"] = ~predicted_lang().isin(*sorted(allowed_langs))
    rows = []  # one-row constant frames, broadcast together once
    if classifier_weights is not None:
        from .classifier import quality_prob, weights_row

        rows.append(weights_row(docs.sparkSession, classifier_weights))
        stats["quality_prob"] = quality_prob(len(classifier_weights), text_col)
        flags["low_classifier_score"] = (
            F.col("quality_prob") < min_classifier_prob
        )
    if blocklist_terms is not None:
        blockset, row = blocklist_probe(docs.sparkSession, blocklist_terms)
        if row is not None:
            rows.append(row)
        bl = blocklist_cols(blockset, text_col)
        stats["n_hits"] = bl["n_hits"]
        stats["hit_frac"] = bl["hit_frac"]
        # max_blocklist_frac=0.0 is the C4 rule: ANY banned term drops
        flags["blocklisted"] = (F.col("n_hits") > 0) & (
            F.col("hit_frac") > max_blocklist_frac
        )
    if apply_gopher_rules:
        from .textstats import gopher_cols

        stats["gopher_ok"] = gopher_cols(text_col)["gopher_ok"]
        flags["gopher_fail"] = F.col("gopher_ok") == 0
    src = docs
    if rows:
        src = docs.crossJoin(F.broadcast(reduce(DataFrame.crossJoin, rows)))
    flagged = src.select(
        "doc_id", *[c.alias(k) for k, c in stats.items()]
    ).select("doc_id", *[c.alias(k) for k, c in flags.items()])

    # relational taggers: loser ids, unique by construction, left-joined
    def add_flag(name: str, loser_ids: DataFrame):
        nonlocal flagged
        flagged = flagged.join(
            loser_ids.select("doc_id").withColumn(name, F.lit(True)),
            "doc_id",
            "left",
        )

    add_flag(
        "exact_dup",
        exact_duplicates(docs, text_col)
        .select(F.explode("doc_ids").alias("doc_id"), "keep_doc_id")
        .where(F.col("doc_id") != F.col("keep_doc_id")),
    )

    # near-dup losers: every component member but its min id
    pairs = minhash_near_duplicates(
        docs, text_col, jaccard_threshold=near_dup_threshold
    )
    comps = connected_components(
        docs.select(F.col("doc_id").alias("id")),
        pairs.select(
            F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
        ),
    )
    add_flag(
        "near_dup",
        comps.where(F.col("component") != F.col("id")).select(
            F.col("id").alias("doc_id")
        ),
    )

    if lm_model is not None and max_perplexity is not None:
        # CCNet-style learned filter: docs too surprising under a
        # reference bigram LM (trained on a trusted corpus) drop. It is
        # relational (explode + model join + groupBy), so not fusable
        from .lm import score_perplexity

        pp = score_perplexity(docs, lm_model, text_col)
        add_flag(
            "high_perplexity",
            pp.where(F.col("perplexity") > max_perplexity),
        )

    if benchmark_docs is not None:
        add_flag(
            "contaminated",
            _contamination_hits(
                docs, benchmark_docs, decontam_n, text_col, "doc_id"
            ),
        )

    if doc_embeddings is not None and benchmark_embeddings is not None:
        # embedding-space leakage: doc_embeddings keyed by doc_id, which
        # nothing forces to be unique — the one loser set kept distinct
        sem = semantic_decontaminate(
            doc_embeddings,
            benchmark_embeddings,
            threshold=semantic_threshold,
            id_col="doc_id",
        )
        add_flag(
            "semantic_contaminated",
            sem.where(F.col("contaminated") == 1).select("doc_id").distinct(),
        )

    reasons = F.filter(
        F.array(
            *[
                F.when(F.coalesce(F.col(c), F.lit(False)), F.lit(c))
                for c in _REASONS
                if c in flagged.columns
            ]
        ),
        lambda x: x.isNotNull(),
    )
    # materialized once: the survivor join and the final projection
    # below read the stored frame instead of re-inlining every tagger
    pre = flagged.select("doc_id", reasons.alias("reasons")).localCheckpoint()

    if mixture_budgets is not None:
        survivors = docs.join(
            pre.where(F.size("reasons") == 0).select("doc_id"), "doc_id"
        )
        in_budget = mixture_sample(
            survivors,
            mixture_group_col,
            mixture_budgets,
            default_budget=mixture_default_budget,
            text_col=text_col,
        ).select("doc_id")
        pre = pre.join(
            in_budget.withColumn("_in_budget", F.lit(True)), "doc_id", "left"
        ).select(
            "doc_id",
            F.when(
                (F.size("reasons") == 0)
                & ~F.coalesce(F.col("_in_budget"), F.lit(False)),
                F.array_append("reasons", F.lit("over_budget")),
            )
            .otherwise(F.col("reasons"))
            .alias("reasons"),
        )

    decisions = pre.select(
        "doc_id",
        (F.size("reasons") == 0).alias("keep"),
        "reasons",
    )
    return decisions, attrition_report(decisions)


def attrition_report(decisions: DataFrame) -> DataFrame:
    """(reason, n_docs) histogram over a decisions table plus 'total'
    and 'kept' rows — derivable from persisted decisions, so a resumed
    pipeline rebuilds it without re-running any tagger."""
    return (
        decisions.select(F.explode("reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .unionByName(
            decisions.agg(
                F.count(F.lit(1)).alias("n_docs")
            ).select(F.lit("total").alias("reason"), "n_docs")
        )
        .unionByName(
            decisions.where("keep").agg(
                F.count(F.lit(1)).alias("n_docs")
            ).select(F.lit("kept").alias("reason"), "n_docs")
        )
    )


def decontaminate(
    train_docs: DataFrame,
    benchmark_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one word n-gram with a held-out benchmark/eval set
    (the standard pre-training hygiene pass; production pipelines use
    13-grams after GPT-3 appendix C — `n` is the knob).

    Scale shape: the benchmark side collapses to DISTINCT grams (a
    shuffle of the SMALL side only) and enters the join as a broadcast
    hash table, so the 100 TB training side is never shuffled for the
    membership test — explode → broadcast inner join is map-side. The
    only shuffle that touches training data carries (id, hit) pairs for
    contaminated docs only; the per-doc hit counts then left-join back
    onto the training ids for the zero-fill (no forced broadcast there:
    the contaminated set is usually tiny and AQE will broadcast it, but
    it is not BOUNDED like the benchmark grams are, so forcing the hint
    would be an OOM bet at 100 TB). Gram sets are per-doc DISTINCT on
    both sides, so `n_hit_grams` counts distinct shared grams, matching
    set-overlap semantics.

    Grams flow as xxhash64 int64 keys on BOTH sides (hashed_word_ngrams
    fold chain): at n=13 the string form pays O(n^2) concat bytes per
    gram AND explodes ~80-byte strings into the probe, vs O(n) hash
    folds and 8-byte probe keys — A/B 1.3-1.7x at 300k docs, exact
    output parity (a cross-gram collision needs ~1e-16 per doc and
    only ever ADDS a hit).
    """
    hits = _contamination_hits(
        train_docs, benchmark_docs, n, text_col, id_col
    )
    zero = F.coalesce(F.col("n_hit_grams"), F.lit(0))
    return train_docs.select(id_col).join(hits, id_col, "left").select(
        id_col,
        zero.alias("n_hit_grams"),
        (zero > 0).cast("int").alias("contaminated"),
    )


def _contamination_hits(
    train_docs: DataFrame,
    benchmark_docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, n_hit_grams) for the contaminated training docs only — one
    row per id (the groupBy key)."""
    from ..functions.text import tokens, hashed_word_ngrams

    grams = F.array_distinct(
        hashed_word_ngrams(tokens(F.lower(F.col(text_col))), n)
    )
    bench = (
        benchmark_docs.select(F.explode(grams).alias("gram")).distinct()
    )
    train_grams = train_docs.select(
        id_col, F.explode(grams).alias("gram")
    )
    return (
        train_grams.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def _dsir_bucket_sql(gram: str, n_buckets: int) -> str:
    """Portable hash bucket for a gram string: md5 (bit-identical across
    Spark / DuckDB / Python, like stratified_sample's uniform), 15 hex
    chars (< 2^60, fits bigint) → pmod n_buckets → int index."""
    return (
        f"cast(pmod(cast(conv(substr(md5({gram}), 1, 15), 16, 10) as "
        f"bigint), {n_buckets}) as int)"
    )


def dsir_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023): score every
    raw document by how much more likely its hashed-n-gram bag is under
    the TARGET distribution than under the raw distribution —
    log w(x) = Σ_g  log p̂_target(bucket(g)) − log p̂_raw(bucket(g)),
    with unigram+bigram features hashed into n_buckets and add-one
    smoothing, exactly the paper's recipe for selecting pre-training
    data that looks like a high-quality target corpus.

    Scale shape: the two bucket distributions are groupBy-count
    aggregates that collapse to ≤ n_buckets rows each (the ONLY
    collects — corpus-size independent, like the IVF centroids); the
    per-doc weight is then a pure narrow map: the log-ratio table rides
    as a one-row broadcast column and each gram costs one md5 + one
    array lookup. No joins touch the corpus. Returns (id, log_weight);
    docs with zero grams get weight 0."""
    import math

    from ..functions.text import tokens, word_ngrams
    from .similarity import _with_const

    toks = tokens(F.lower(F.col(text_col)))
    grams = F.concat(toks, word_ngrams(toks, 2))
    bucket = _dsir_bucket_sql("g", n_buckets)

    def dist(df) -> list[int]:
        rows = (
            df.select(F.explode(grams).alias("g"))
            .selectExpr(f"{bucket} as b")
            .groupBy("b")
            .count()
            .collect()
        )
        counts = [0] * n_buckets
        for r in rows:
            counts[r["b"]] = r["count"]
        return counts

    ct, cr = dist(target_docs), dist(raw_docs)
    t_tot, r_tot = sum(ct) + n_buckets, sum(cr) + n_buckets
    lr = [
        math.log(ct[b] + 1) - math.log(t_tot)
        - math.log(cr[b] + 1) + math.log(r_tot)
        for b in range(n_buckets)
    ]
    with_lr = _with_const(
        raw_docs.select(id_col, grams.alias("_grams")),
        "_lr",
        lr,
        "array<double>",
    )
    w = F.expr(
        f"aggregate(transform(_grams, g -> _lr[{bucket}]), "
        f"0D, (acc, v) -> acc + v)"
    )
    return with_lr.select(id_col, w.alias("log_weight"))


def corpus_divergence(
    docs_a: DataFrame,
    docs_b: DataFrame,
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """Distribution drift between two corpora — the check a pipeline
    runs between crawl snapshots, or between a domain and the mixture
    it feeds (did the data change under us?): Jensen-Shannon divergence
    over the SAME hashed unigram+bigram bucket distributions DSIR uses
    (portable md5 buckets, add-one smoothing), so the drift measure and
    the importance sampler see the same feature space.

      JS(a, b) = ½·KL(p̂_a ‖ m) + ½·KL(p̂_b ‖ m),  m = (p̂_a + p̂_b)/2

    0 = identical gram distributions; ln 2 ≈ 0.693 = disjoint.

    Scale shape: identical to dsir_weights — each corpus collapses to a
    ≤ n_buckets-row groupBy-count (the only collects, corpus-size
    independent); the divergence is driver math on 2·n_buckets doubles.
    Returns a ONE-ROW DataFrame (kl_am, kl_bm, js, n_grams_a,
    n_grams_b), floats rounded to 6dp."""
    import math

    from ..functions.text import tokens, word_ngrams

    toks = tokens(F.lower(F.col(text_col)))
    grams = F.concat(toks, word_ngrams(toks, 2))
    bucket = _dsir_bucket_sql("g", n_buckets)

    def dist(df) -> list[int]:
        rows = (
            df.select(F.explode(grams).alias("g"))
            .selectExpr(f"{bucket} as b")
            .groupBy("b")
            .count()
            .collect()
        )
        counts = [0] * n_buckets
        for r in rows:
            counts[r["b"]] = r["count"]
        return counts

    ca, cb = dist(docs_a), dist(docs_b)
    ta, tb = sum(ca) + n_buckets, sum(cb) + n_buckets
    kl_am = kl_bm = 0.0
    for i in range(n_buckets):
        pa, pb = (ca[i] + 1) / ta, (cb[i] + 1) / tb
        m = (pa + pb) / 2
        kl_am += pa * math.log(pa / m)
        kl_bm += pb * math.log(pb / m)
    spark = docs_a.sparkSession
    return spark.createDataFrame(
        [
            (
                round(kl_am, 6),
                round(kl_bm, 6),
                round((kl_am + kl_bm) / 2, 6),
                sum(ca),
                sum(cb),
            )
        ],
        "kl_am double, kl_bm double, js double, "
        "n_grams_a long, n_grams_b long",
    )


def dsir_sample(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    n_buckets: int = 4096,
    temperature: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR selection: Gumbel top-k — sampling k docs WITHOUT
    replacement with probability ∝ exp(log_weight / temperature) is
    exactly taking the top k of  log_weight/T + Gumbel(u)  where
    Gumbel(u) = −ln(−ln(u)). u is stratified_sample's md5 power-of-two
    uniform, so the draw is DETERMINISTIC and bit-identical across
    engines (re-runs and resumes select the same k docs). The score is
    rounded to 6dp before ranking with an id tie-break (the repo's
    cross-engine ranking rule) and selection is orderBy+limit —
    TakeOrderedAndProject, no global sort materialization.

    Returns (id, log_weight, score) for the k selected docs."""
    w = dsir_weights(
        raw_docs, target_docs, n_buckets=n_buckets,
        text_col=text_col, id_col=id_col,
    )
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    u = u.cast("double") / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(u))
    score = F.round(
        F.col("log_weight") / F.lit(float(temperature)) + gumbel, 6
    )
    return (
        w.select(id_col, "log_weight", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def leakage_safe_split(
    docs: DataFrame,
    edges: DataFrame,
    k: int = 5,
    seed: int = 42,
    id_col: str = "doc_id",
    edge_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Group-aware k-fold split that prevents near-duplicate LEAKAGE
    across train/val/test: every document in one near-dup connected
    component gets the SAME fold, because the fold is hashed from the
    component representative (min id), never from the doc itself. A
    doc-level split puts one copy of a near-dup pair in train and the
    other in test — the classic eval-contamination failure a curation
    pipeline must rule out (same concern decontaminate() addresses
    against an EXTERNAL benchmark; this is the internal-split version).

    edges: (doc_a, doc_b) near-dup pairs from any dedup operator
    (ngram_jaccard_pairs, minhash_near_duplicates verified pairs,
    semantic_duplicates, ...). Docs with no edge are singletons — their
    own component.

    Fold = md5-bucket of `seed:component_id` (the stratified_sample
    uniform, md5 on purpose: bit-identical across Spark, DuckDB, and
    Python, so the exact assignment is oracle-checkable and stable
    across reruns).

    Scale shape: CC is the O(log n) star-contraction operator over the
    near-dup pair set (tiny relative to the corpus by construction);
    joining the component map back is one hash join the singletons pass
    through as a left-join miss; the fold hash is a pure map. Returns
    docs + (component_id, fold)."""
    from .linking import connected_components

    if k < 2:
        raise ValueError(f"k={k}: need at least 2 folds")
    e = edges.select(
        F.col(edge_cols[0]).alias("id_a"), F.col(edge_cols[1]).alias("id_b")
    )
    verts = (
        e.select(F.col("id_a").alias("id"))
        .union(e.select(F.col("id_b").alias("id")))
        .distinct()
    )
    comp = connected_components(verts, e).select(
        F.col("id").alias(id_col), F.col("component")
    )
    out = docs.join(comp, id_col, "left")
    rep = F.coalesce(F.col("component"), F.col(id_col))
    fold = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(seed), rep.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(k),
    ).cast("int")
    return out.select(
        *docs.columns,
        rep.alias("component_id"),
        fold.alias("fold"),
    )


def semantic_decontaminate(
    train_embeddings: DataFrame,
    benchmark_embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination → (id, max_cos,
    contaminated): flag every training document whose embedding sits
    within cosine `threshold` of ANY held-out benchmark embedding —
    the semantic complement of the n-gram `decontaminate` (paraphrased
    eval leakage that shares no 13-gram still lands next to the
    benchmark in embedding space; cf. SemDeDup's cosine criterion
    applied across the train/eval boundary).

    Scale shape: eval sets are BOUNDED (thousands of vectors), so the
    unit-normalized benchmark matrix folds into a ONE-ROW aggregate and
    rides a broadcast cross join as a nested-array column — never an
    expression literal (a large literal inside a HOF lambda re-evaluates
    per element access; measured 16x on a SQL PQ encode). The training side
    is a pure map: per row one zip_with/aggregate dot fold per
    benchmark vector and an array_max — ZERO shuffles of training data
    (plan-pinned in test_semantic_decon.py). The k x d interpreted HOF
    fold is the right shape up to ~10^4 benchmark vectors; beyond that
    swap the scorer for an Arrow-batched GEMM (the _pq_codes_udf pattern)
    without changing the contract.

    max_cos and the flag are computed from the SAME dst-ordered
    arithmetic DuckDB uses (cast-to-double before any product,
    sequential fold), so the threshold compare sees bit-identical
    doubles on both engines — the `decontaminate` driver query's
    'semantic' leg is oracle-checked, not rows-only. Empty benchmark
    => max_cos = -1, nothing flagged.
    """
    from .dedup import unit_vector

    bench_row = benchmark_embeddings.agg(
        F.collect_list(unit_vector(vec_col)).alias("_bench")
    )
    scored = (
        train_embeddings.select(
            id_col, unit_vector(vec_col).alias("_unit")
        )
        .crossJoin(F.broadcast(bench_row))
        .select(
            id_col,
            F.coalesce(
                F.array_max(
                    F.transform(
                        F.col("_bench"),
                        lambda v: F.aggregate(
                            F.zip_with(
                                F.col("_unit"), v, lambda x, y: x * y
                            ),
                            F.lit(0.0),
                            lambda a, b: a + b,
                        ),
                    )
                ),
                F.lit(-1.0),
            ).alias("max_cos"),
        )
    )
    return scored.select(
        id_col,
        "max_cos",
        (F.col("max_cos") >= F.lit(float(threshold)))
        .cast("int")
        .alias("contaminated"),
    )
