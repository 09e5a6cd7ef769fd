"""Physical-plan quality audits: pushdown, pruning, broadcast, bucketing.

These pin the properties that matter at 100 TB — a regression here means
a full-table scan or an unsplittable shuffle at scale, not a wrong answer.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def fresh_docs_path(spark, tmp_path_factory):
    """Private parquet copy: other test modules cache() the shared
    SF_DIR/documents path, and Spark's cache substitution would replace
    the scan under audit with InMemoryTableScan."""
    d = str(tmp_path_factory.mktemp("plans_docs"))
    spark.read.parquet(f"{SF_DIR}/documents.parquet").write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_textstats_prunes_scan_columns(spark, fresh_docs_path):
    """token_stats reads only (doc_id, text) — ReadSchema must not contain
    lang/source/n_chars."""
    from gliner_spark.operators.textstats import token_stats

    docs = spark.read.parquet(fresh_docs_path)
    plan = _plan(token_stats(docs))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "lang" not in scan[0] and "source" not in scan[0], scan[0]


def test_filter_pushdown_to_parquet(spark, fresh_docs_path):
    from gliner_spark.operators.textstats import quality_scores

    docs = spark.read.parquet(fresh_docs_path).where(
        F.col("lang") == "en"
    )
    plan = _plan(quality_scores(docs))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_extraction_scan_prunes_to_three_columns(spark):
    """The NER stage over a parquet transcripts table must scan only
    (conv_id, turn_idx, text) — role/tool/ts pruned."""
    from gliner_spark.operators.ner import extract_entities
    from gliner_spark.sources.transcripts import synth_transcripts

    import tempfile

    d = tempfile.mkdtemp(prefix="prune_")
    synth_transcripts(spark, 5).write.mode("overwrite").parquet(d)
    t = spark.read.parquet(d)
    plan = _plan(extract_entities(t, ["person"]))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "role" not in scan[0] and "tool" not in scan[0], scan[0]


def test_knn_broadcasts_queries(spark):
    from gliner_spark.operators.similarity import knn_bruteforce

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(knn_bruteforce(emb, q, k=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the corpus side must NOT be exchanged before the join
    join_pos = plan.find("Broadcast")
    assert join_pos >= 0


def test_exact_dedup_partial_aggregation(spark):
    """The content-hash groupBy must plan a partial (map-side) aggregate
    before the exchange."""
    from gliner_spark.operators.dedup import exact_duplicates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_duplicates(docs))
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert 0 <= first_agg, plan
    assert 0 <= first_exchange, plan


def test_minhash_signatures_is_pure_map_stage(spark):
    """Signatures must be a narrow projection: no exchange, no aggregate
    (r01 exploded shingles through a 64-buffer SortAggregate — a full
    shuffle of every (id, shingle) row that a map-side array expression
    makes unnecessary)."""
    from gliner_spark.operators.linking import minhash_signatures

    surfaces = spark.createDataFrame(
        [("alpha corp",), ("beta inc",)], ["surface"]
    )
    plan = _plan(minhash_signatures(surfaces, n_perms=8))
    assert plan.find("SortAggregate") < 0, plan
    assert plan.find("HashAggregate") < 0, plan
    assert plan.find("Exchange") < 0, plan


def test_simhash_bits_is_pure_map_stage(spark):
    """Same property as minhash signatures: the sketch is a projection,
    not an explode + 64-sum aggregate (which shuffled every (doc, token)
    row)."""
    from gliner_spark.operators.dedup import simhash_bits

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon")], ["doc_id", "text"]
    )
    plan = _plan(simhash_bits(docs))
    assert plan.find("Exchange") < 0, plan
    assert plan.find("Aggregate") < 0, plan


def test_bpe_encode_is_pure_map_stage(spark):
    """The learned-BPE encode is a single narrow mapInPandas projection:
    the merge list rides the closure, so there is no join, no aggregate,
    and no exchange — the shape that scales as a map at any corpus size."""
    from gliner_spark.operators.bpe import BPEModel, bpe_encode

    docs = spark.createDataFrame(
        [(0, "the theme"), (1, "low lower")], ["doc_id", "text"]
    )
    plan = _plan(bpe_encode(docs, BPEModel([("t", "h")], ["t", "h", "e"])))
    assert plan.find("Exchange") < 0, plan
    assert plan.find("HashAggregate") < 0, plan


def test_bpe_training_count_has_partial_aggregation(spark):
    """BPE training's word count must plan a map-side partial aggregate
    before its single exchange (the only shuffle in training)."""
    from gliner_spark.operators.bpe import BPE_ISH_PATTERN

    docs = spark.createDataFrame(
        [(0, "the theme"), (1, "low lower")], ["doc_id", "text"]
    )
    counts = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.col("text"), F.lit(BPE_ISH_PATTERN), 0
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    plan = _plan(counts)
    first_agg = plan.find("HashAggregate")
    first_exchange = plan.find("Exchange")
    assert 0 <= first_agg < first_exchange, plan


def test_bloom_probe_is_broadcast_only(spark):
    """The bloom membership probe must be a narrow map over the shard:
    the bitmap arrives via BroadcastExchange + BroadcastNestedLoopJoin
    (one-row build side), and NOTHING shuffles — at 100 TB the probe
    reads the shard once and writes the verdict column in place."""
    from gliner_spark.operators.dedup import bloom_probe, build_exact_bloom

    docs = spark.createDataFrame(
        [(0, "alpha doc"), (1, "beta doc")], ["doc_id", "text"]
    )
    bloom = build_exact_bloom(docs, n_items=2)
    plan = _plan(bloom_probe(docs, bloom))
    assert "BroadcastExchange" in plan, plan
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 0, plan


def test_rrf_fuse_is_take_ordered(spark):
    """RRF fusion runs over top-k CANDIDATE LISTS, so its own plan must
    stay tiny-data shaped: the final top-k is a TakeOrderedAndProject
    (per-partition heap + driver merge of k rows), never a global Sort
    shuffle — the corpus-scale work belongs to each leg's ranker."""
    from gliner_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rk"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "rk"])
    plan = _plan(rrf_fuse([a, b], top_k=2))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("SortAggregate", ""), plan


def test_bfs_round_join_is_equi_join(spark):
    """Each BFS round joins the frontier to edges on src — an int64
    equi-join (hash/sort-merge), never a nested-loop: a BNLJ here would
    be frontier × edges at cluster scale. Audited on the FIRST round's
    unexecuted plan (later rounds reuse the same shape)."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(0, 1), (1, 2)], "src long, dst long"
    )
    frontier = spark.createDataFrame([(0, 0, 0)], "landmark long, id long, hop int")
    joined = frontier.join(edges, frontier.id == edges.src).select(
        "landmark", F.col("dst").alias("id")
    )
    plan = _plan(joined)
    assert (
        "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_curate_corpus_job_count_and_scan_leaves(spark, tmp_path_factory):
    """curate_corpus evaluates every tagger once: the per-doc taggers are
    one projection, the flag frame is materialized once before the
    budget mixer, so the returned decisions plan reads the input only
    for the mixer. Measured at local[4], 8 shuffle partitions, AQE on,
    on 204 parquet-backed synth_corpus docs with a 32-term blocklist, a
    benchmark and mixture budgets (the curation_batch arguments):
    before the fused flag frame, 37 jobs for the call plus a noop write
    and 35 `Scan parquet` leaves / 71 exchanges in the decisions plan;
    after it, 28 jobs, 2 scans, 8 exchanges."""
    import uuid

    from gliner_spark.curation_pipeline import synth_corpus
    from gliner_spark.operators.curation import curate_corpus

    path = str(tmp_path_factory.mktemp("curate_plan") / "docs")
    synth_corpus(spark, 200).write.parquet(path)
    docs = spark.read.parquet(path)
    sc = spark.sparkContext
    out = {}

    def call():
        out["dec"] = curate_corpus(
            docs,
            blocklist_terms=tuple(f"w{i * 997 % 50000}" for i in range(32)),
            benchmark_docs=docs.where("doc_id % 199 = 0").select(
                "doc_id", "text"
            ),
            mixture_budgets={"src0": 10_000_000_000},
            mixture_default_budget=5_000_000_000,
        )[0]
        out["dec"].write.format("noop").mode("overwrite").save()

    group = f"curate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 28
    plan = _plan(out["dec"])
    assert plan.count("Scan parquet") <= 2, plan
    assert plan.count("Exchange") <= 8, plan
