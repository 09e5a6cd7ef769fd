"""Ranked lexical retrieval over a document corpus: BM25 scoring of a
literal term query, fully native expressions.

Reference scope note: GLiNER itself has no retrieval operator — this is
one of the training-data-pipeline additions (corpus search / example
mining) layered on the same `documents` table as the dedup/quality ops.

Scale shape: the query is a LITERAL term list, so per-term tf is a
map-side `size(filter(tokens, = term))` expression on the token array —
no explode, no (doc, term) shuffle, and the scan pipeline stays in
whole-stage codegen. Corpus statistics (N, avgdl, per-term df) reduce to
ONE single-row global aggregate that joins back as a broadcast; the
final score is again a pure map expression, and the top-k is a
TakeOrderedAndProject (per-partition heap + driver merge of k rows — no
global sort shuffle). Every stage is linear in input splits.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..plans.commit import write_text


def bm25_rank(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 (Robertson idf, `ln(1 + (N-df+.5)/(df+.5))`,
    so zero-df terms stay finite and contribute 0 via tf=0).

    Ordering is over the 6dp-ROUNDED score with an id tie-break, so the
    returned top-k is deterministic across engines even when two docs'
    raw doubles differ only in summation order.
    """
    if not query_terms:
        raise ValueError("bm25_rank needs at least one query term")
    toks = tokens(F.lower(F.col(text_col)))

    def _tf(word):
        # single-arg lambda on purpose: a two-arg lambda is the
        # (element, index) form to Spark's HOF builder
        return F.size(F.filter(toks, lambda t: t == F.lit(word)))

    per_doc = docs.select(
        id_col,
        F.size(toks).alias("dl"),
        *[
            _tf(w).cast("double").alias(f"tf_{i}")
            for i, w in enumerate(query_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    score = None
    for i in range(len(query_terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        term = idf * F.col(f"tf_{i}") * F.lit(k1 + 1.0) / (
            F.col(f"tf_{i}") + norm
        )
        score = term if score is None else score + term
    scored = per_doc.join(F.broadcast(stats)).select(
        id_col, F.round(score, 6).alias("score")
    )
    ranked = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(top_k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return ranked.withColumn("rk", F.row_number().over(w))


def _doc_postings(toks) -> "F.Column":
    """Per-doc (term, tf) array from a token-array column, LINEAR per
    row and fully map-side: sort the tokens, find run starts (positions
    whose token differs from its predecessor), then zip each run start
    with the next start to get the run length. No explode→groupBy — the
    per-occurrence shuffle that pattern costs is the whole corpus at
    index-build scale; here tf is finished before anything moves."""
    srt = F.array_sort(toks)
    n = F.size(srt)
    # sequence(1, n) auto-negates its step for n < 1 → guard (repo rule)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.lit(None).cast("array<int>")
    )
    starts = F.filter(
        idx,
        lambda i: (i == 1)
        | (F.element_at(srt, i) != F.element_at(srt, i - 1)),
    )
    nexts = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n + 1),
    )
    # empty doc → idx NULL → result NULL; explode() skips NULL arrays,
    # so empty docs contribute no postings (but still count in n_docs)
    return F.zip_with(
        starts,
        nexts,
        lambda s, e: F.struct(
            F.element_at(srt, s).alias("term"),
            (e - s).cast("double").alias("tf"),
        ),
    )


def build_bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Persist an inverted index for BM25: postings (term, doc_id, tf,
    dl) written as parquet PARTITIONED BY a term-hash bucket, corpus
    stats (n_docs, total_dl) as a JSON sidecar. The retrieval twin of
    `build_ivf_index`: tokenization + tf are paid ONCE at build time,
    and a later query reads only the ≤len(terms) bucket directories its
    terms hash into (literal partition filter → directory pruning at
    the scan), never the corpus.

    Scale shape: per-doc tf is computed map-side by sort+run-length
    (`_doc_postings`) so the only shuffle is the repartition-by-bucket
    that co-locates each bucket before the partitioned write (one file
    per bucket instead of tasks × buckets small files). dl rides
    denormalized on every posting — BM25's length norm then needs no
    doc-table join at query time. df is NOT stored: it is exactly the
    posting count of a term, recomputed from the (tiny) slice the query
    reads."""
    toks = tokens(F.lower(F.col(text_col)))
    per_doc = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        toks.alias("ts"),
        F.size(toks).alias("dl"),
    )
    postings = per_doc.select(
        "doc_id",
        F.col("dl").cast("double").alias("dl"),
        F.explode(_doc_postings(F.col("ts"))).alias("p"),
    ).select(
        F.col("p.term").alias("term"),
        "doc_id",
        F.col("p.tf").alias("tf"),
        "dl",
        F.pmod(F.xxhash64("p.term"), F.lit(n_buckets)).alias("bucket"),
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    ).first()
    postings.repartition(F.col("bucket")).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)
    meta = {
        "n_docs": int(agg["n_docs"]),
        "total_dl": int(agg["total_dl"] or 0),
        "n_buckets": int(n_buckets),
    }
    write_text(path, "_bm25_meta.json", json.dumps(meta))
    return meta


def bm25_against_index(
    spark,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k BM25 over a `build_bm25_index` index. Reads ONLY the
    bucket partitions the query terms hash into (the bucket predicate
    is a literal IN list → PartitionFilters directory pruning; the term
    predicate pushes to parquet row groups inside them), computes df as
    the posting count per term from that slice, scores each posting
    map-side, and groupBy-sums the ≤len(terms) postings per doc.

    Same arithmetic, rounding (6dp) and (score desc, doc_id) tie-break
    as `bm25_rank`, so on matching docs the two rankings agree exactly
    (parity-pinned). Difference inherent to any inverted index: only
    docs containing ≥1 query term are candidates — bm25_rank ranks
    score-0 docs too when fewer than top_k docs match."""
    if not query_terms:
        raise ValueError("bm25_against_index needs at least one term")
    with open(os.path.join(path, "_bm25_meta.json")) as f:
        meta = json.load(f)
    tot_docs, tot_dl = int(meta["n_docs"]), int(meta["total_dl"])
    n_buckets = int(meta["n_buckets"])
    n_docs = float(tot_docs)
    avgdl = tot_dl / tot_docs if tot_docs else 1.0
    # buckets for the literal IN filter: hash the terms with the SAME
    # engine function used at build time (one O(len(terms)) local job)
    bdf = spark.createDataFrame(
        [(t,) for t in query_terms], "term string"
    ).select(
        F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("bucket")
    )
    buckets = sorted({r["bucket"] for r in bdf.collect()})
    # explicit schema: skips footer-sampling inference AND keeps an
    # empty index (built over no docs) readable — an all-partition-pruned
    # dir has no file to infer from
    post = (
        spark.read.schema(
            "term string, doc_id long, tf double, dl double, bucket bigint"
        )
        .parquet(path)
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(query_terms))
    )
    df_tbl = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = post.join(F.broadcast(df_tbl), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / (F.col("tf") + norm)
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum(contrib), 6).alias("score")
    )
    ranked = per_doc.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(top_k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return ranked.withColumn("rk", F.row_number().over(w))


def rrf_fuse(
    rankings: list[DataFrame],
    k0: float = 60.0,
    top_k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rk",
) -> DataFrame:
    """Reciprocal-rank fusion of ≥1 ranked candidate lists →
    (doc_id, rrf, n_legs, rk ≤ top_k).

    score(d) = Σ over the legs that ranked d of 1/(k0 + rank_leg(d)) —
    the standard hybrid-retrieval combiner (Cormack, Clarke & Büttcher,
    SIGIR 2009; k0=60 is the paper's constant). Rank-based, so lexical
    (BM25) and dense (cosine) legs fuse without score calibration.

    Inputs are TOP-K CANDIDATE LISTS (each leg's own ranker already did
    the corpus-scale work and kept k rows), so the union/groupBy here
    moves O(Σ leg k) rows no matter the corpus size — the fusion itself
    is never the bottleneck. rrf is rounded to 6dp before ranking with a
    doc_id tie-break: the per-doc sum has at most len(rankings) terms,
    so the double is engine-order-independent after rounding and the
    fused top-k is deterministic (the repo-wide cross-engine rule).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    legs = [
        df.select(
            F.col(id_col).cast("long").alias(id_col),
            F.col(rank_col).cast("long").alias("_rk"),
        )
        for df in rankings
    ]
    u = legs[0]
    for df in legs[1:]:
        u = u.unionByName(df)
    fused = u.groupBy(id_col).agg(
        F.round(
            F.sum(F.lit(1.0) / (F.lit(float(k0)) + F.col("_rk"))), 6
        ).alias("rrf"),
        F.count(F.lit(1)).cast("long").alias("n_legs"),
    )
    ranked = fused.orderBy(
        F.col("rrf").desc(), F.col(id_col).asc()
    ).limit(top_k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    return ranked.withColumn("rk", F.row_number().over(w))


def assemble_context(
    ranked: DataFrame,
    budget_tokens: int,
    query_col: str = "query_id",
    rank_col: str = "rk",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """RAG context assembly: walk each query's candidates in rank
    order and keep documents until the token budget fills → input
    columns + `cum_tokens` (the running total INCLUDING the row).

    Admission rule is the repo's budget rule (mixture_sample): a doc
    is kept iff the total BEFORE it is under budget — the crossing doc
    ships, so the best-ranked chunk always makes it even when it alone
    exceeds the budget. One window cumsum per query (the partition is a
    candidate list, k-sized by construction — the ranker already did
    the corpus-scale work).

    The cumsum window tie-breaks equal ranks on `doc_id` when the
    input carries one (rank() rankers emit ties; a tie-order-dependent
    cumsum would make the admitted subset nondeterministic). Without a
    doc_id column, rank_col must be unique per query (row_number
    rankers — every entry-point caller here).
    """
    from pyspark.sql import Window as _W

    order = [F.col(rank_col).asc()]
    if "doc_id" in ranked.columns:
        order.append(F.col("doc_id").asc())
    w = (
        _W.partitionBy(query_col)
        .orderBy(*order)
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    cum = F.sum(F.col(tokens_col).cast("long")).over(w)
    out = ranked.withColumn("cum_tokens", cum)
    return out.where(
        F.col("cum_tokens") - F.col(tokens_col) < F.lit(int(budget_tokens))
    )
