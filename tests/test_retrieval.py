"""BM25 ranked retrieval + benchmark decontamination.

The BM25 oracle here is an independent pure-Python restatement of the
Robertson formula (computed with math.log over plain floats), so the
Spark expression tree is checked against hand-auditable arithmetic, not
against itself.
"""

import math

import pytest

from gliner_spark.operators.curation import decontaminate
from gliner_spark.operators.retrieval import bm25_rank

K1, B = 1.2, 0.75

DOCS = [
    (0, "spark shuffle join spark spark"),
    (1, "window scan filter table"),
    (2, "spark window window table row"),
    (3, ""),
    (4, "join join join join"),
]


def _tokens(text):
    return text.lower().split()


def _bm25_oracle(query_terms, top_k):
    toks = {i: _tokens(t) for i, t in DOCS}
    n = float(len(DOCS))
    avgdl = sum(len(v) for v in toks.values()) / n
    out = []
    for i, ts in toks.items():
        dl = len(ts)
        score = 0.0
        for w in query_terms:
            tf = float(ts.count(w))
            df = float(sum(1 for v in toks.values() if w in v))
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / avgdl)
            )
        out.append((i, round(score, 6)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:top_k]


@pytest.mark.parametrize(
    "query", [["spark"], ["spark", "window"], ["join", "nosuchterm"]]
)
def test_bm25_matches_python_oracle(spark, query):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = [
        (r.doc_id, r.score, r.rk)
        for r in bm25_rank(df, query, top_k=3).collect()
    ]
    want = [(i, s, rk + 1) for rk, (i, s) in
            enumerate(_bm25_oracle(query, 3))]
    assert got == want


def test_bm25_zero_df_term_contributes_nothing(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    a = bm25_rank(df, ["spark"], top_k=5).collect()
    b = bm25_rank(df, ["spark", "nosuchterm"], top_k=5).collect()
    assert [(r.doc_id, r.score) for r in a] == [
        (r.doc_id, r.score) for r in b
    ]


def test_bm25_rejects_empty_query(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_rank(df, [])


def test_bm25_index_postings_match_counter(spark, tmp_path):
    """The sort+run-length postings build (no explode→groupBy) must
    produce exactly python Counter's (term, tf) per doc, with dl
    denormalized onto every posting and the empty doc absent."""
    from collections import Counter

    from gliner_spark.operators.retrieval import build_bm25_index

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "idx")
    meta = build_bm25_index(df, path, n_buckets=8)
    assert meta["n_docs"] == 5
    assert meta["total_dl"] == sum(len(_tokens(t)) for _, t in DOCS)
    got = {
        (r.doc_id, r.term): (r.tf, r.dl)
        for r in spark.read.parquet(path).collect()
    }
    want = {}
    for i, t in DOCS:
        ts = _tokens(t)
        for w, c in Counter(ts).items():
            want[(i, w)] = (float(c), float(len(ts)))
    assert got == want


def test_bm25_index_parity_with_rank(spark, tmp_path):
    """On queries where >= top_k docs match, the indexed ranking equals
    bm25_rank row-for-row (same arithmetic, rounding, tie-break)."""
    from gliner_spark.operators.retrieval import (
        bm25_against_index,
        bm25_rank,
        build_bm25_index,
    )

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_bm25_index(df, path, n_buckets=8)
    for query in (["spark", "window"], ["join", "table", "nosuchterm"]):
        want = [
            (r.doc_id, r.score, r.rk)
            for r in bm25_rank(df, query, top_k=3).collect()
        ]
        got = [
            (r.doc_id, r.score, r.rk)
            for r in bm25_against_index(
                spark, path, query, top_k=3
            ).collect()
        ]
        assert got == want, query


def test_bm25_index_returns_only_matching_docs(spark, tmp_path):
    """Inherent inverted-index semantics: docs containing none of the
    query terms are not candidates (bm25_rank pads with score-0 docs)."""
    from gliner_spark.operators.retrieval import (
        bm25_against_index,
        build_bm25_index,
    )

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_bm25_index(df, path, n_buckets=8)
    got = bm25_against_index(spark, path, ["window"], top_k=5).collect()
    assert sorted(r.doc_id for r in got) == [1, 2]
    assert all(r.score > 0 for r in got)


def test_bm25_index_over_no_docs_is_readable(spark, tmp_path):
    """An index built over no documents has no data file to infer a
    schema from: queries read it with the explicit schema and return no
    rows instead of failing."""
    from gliner_spark.operators.retrieval import (
        bm25_against_index,
        build_bm25_index,
    )

    path = str(tmp_path / "idx")
    meta = build_bm25_index(
        spark.createDataFrame([], "doc_id long, text string"),
        path,
        n_buckets=8,
    )
    assert meta == {"n_docs": 0, "total_dl": 0, "n_buckets": 8}
    assert bm25_against_index(spark, path, ["spark"], top_k=3).count() == 0


def test_bm25_index_prunes_bucket_partitions(spark, tmp_path):
    """The 100 TB contract: a query's scan carries a LITERAL bucket IN
    partition filter (directory pruning — only the query terms' buckets
    are read) and the term predicate is pushed to parquet."""
    from gliner_spark.operators.retrieval import (
        bm25_against_index,
        build_bm25_index,
    )

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_bm25_index(df, path, n_buckets=16)
    out = bm25_against_index(spark, path, ["spark", "join"], top_k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[bucket#\d+L? IN \(([^)]*)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) <= 2  # <= one bucket per term
    assert "PushedFilters: [In(term" in plan, plan


def _rrf_oracle(legs, k0=60.0, top_k=10):
    acc = {}
    for leg in legs:
        for doc_id, rk in leg:
            s, n = acc.get(doc_id, (0.0, 0))
            acc[doc_id] = (s + 1.0 / (k0 + rk), n + 1)
    rows = sorted(
        ((d, round(s, 6), n) for d, (s, n) in acc.items()),
        key=lambda x: (-x[1], x[0]),
    )[:top_k]
    return [(d, s, n, i + 1) for i, (d, s, n) in enumerate(rows)]


def test_rrf_matches_python_oracle(spark):
    from gliner_spark.operators.retrieval import rrf_fuse

    a = [(10, 1), (11, 2), (12, 3)]
    b = [(11, 1), (13, 2)]
    dfs = [
        spark.createDataFrame(leg, "doc_id long, rk long") for leg in (a, b)
    ]
    got = [
        (r.doc_id, r.rrf, r.n_legs, r.rk)
        for r in rrf_fuse(dfs, top_k=10).collect()
    ]
    assert got == _rrf_oracle([a, b])
    # doc 11 appears in both legs and must win
    assert got[0][0] == 11 and got[0][2] == 2


def test_rrf_tie_breaks_by_doc_id(spark):
    from gliner_spark.operators.retrieval import rrf_fuse

    legs = [[(7, 1)], [(3, 1)]]  # identical scores 1/61
    dfs = [
        spark.createDataFrame(leg, "doc_id long, rk long") for leg in legs
    ]
    got = [(r.doc_id, r.rk) for r in rrf_fuse(dfs).collect()]
    assert got == [(3, 1), (7, 2)]


def test_rrf_rejects_empty(spark):
    from gliner_spark.operators.retrieval import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([])


def test_decontaminate_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # shares the 3-grams "alpha beta gamma" + "beta gamma delta"
            (0, "x alpha beta gamma delta y"),
            # shares exactly one 3-gram
            (1, "alpha beta gamma zzz"),
            # bigram overlap only — NOT contaminated at n=3
            (2, "beta gamma unrelated words here"),
            # no overlap
            (3, "totally different text entirely"),
            # doc shorter than n
            (4, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_hit_grams, r.contaminated)
        for r in decontaminate(train, bench, n=3).collect()
    }
    assert got == {
        0: (2, 1),
        1: (1, 1),
        2: (0, 0),
        3: (0, 0),
        4: (0, 0),
    }


def test_decontaminate_counts_distinct_grams_once(spark):
    bench = spark.createDataFrame(
        [(100, "a b c")], "doc_id long, text string"
    )
    # the shared gram occurs twice in the training doc — still 1 hit
    train = spark.createDataFrame(
        [(0, "a b c x a b c")], "doc_id long, text string"
    )
    [row] = decontaminate(train, bench, n=3).collect()
    assert (row.n_hit_grams, row.contaminated) == (1, 1)


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The 100 TB contract: the membership test joins the training gram
    stream against a BROADCAST of the benchmark grams — the big side
    must not be shuffled for it."""
    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta gamma w{i+1}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = docs.where("doc_id % 10 = 0")
    train = docs.where("doc_id % 10 != 0")
    out = decontaminate(train, bench, n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# ------------------------------------------------------ assemble_context


def test_assemble_context_budget_rule(spark):
    from gliner_spark.operators.retrieval import assemble_context

    rows = [
        # query 0: budget 100 -> keep rk1 (60), rk2 crosses at 110 ->
        # kept (before-total 60 < 100), rk3 dropped
        (0, 101, 1, 60), (0, 102, 2, 50), (0, 103, 3, 10),
        # query 1: first chunk alone exceeds the budget -> still kept
        (1, 201, 1, 500), (1, 202, 2, 5),
        # query 2: everything fits
        (2, 301, 1, 10), (2, 302, 2, 20),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, rk int, n_tokens long"
    )
    got = {
        (r["query_id"], r["doc_id"]): r["cum_tokens"]
        for r in assemble_context(df, 100).collect()
    }
    assert set(got) == {
        (0, 101), (0, 102), (1, 201), (2, 301), (2, 302)
    }
    assert got[(0, 102)] == 110
    assert got[(1, 201)] == 500


def test_assemble_context_over_real_bm25(spark):
    from pyspark.sql import functions as F

    from gliner_spark.operators.retrieval import assemble_context, bm25_rank

    docs = spark.createDataFrame(
        [
            (i, "alpha beta " + " ".join(["w"] * (5 + i % 7)))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    ranked = bm25_rank(docs, ["alpha"], top_k=10).withColumn(
        "query_id", F.lit(0)
    ).withColumn("n_tokens", F.lit(6))
    kept = assemble_context(ranked, 20, rank_col="rk").collect()
    # 6-token docs, budget 20 -> before-totals 0,6,12,18 admit 4 docs
    assert len(kept) == 4


def test_assemble_context_rank_ties_deterministic(spark):
    """ADVICE r4: rank() rankers emit duplicate ranks; the cumsum window
    tie-breaks on doc_id so the admitted subset is deterministic — the
    lower doc_id of a tied pair is walked first."""
    from gliner_spark.operators.retrieval import assemble_context

    rows = [(0, 12, 1, 60), (0, 7, 1, 60), (0, 20, 2, 60)]
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, rk int, n_tokens long"
    )
    for _ in range(3):  # stable across replans
        got = {
            r["doc_id"]: r["cum_tokens"]
            for r in assemble_context(df, 100).collect()
        }
        # doc 7 first (60), doc 12 crosses at 120 (before-total 60 <
        # 100 -> kept), doc 20 dropped (before-total 120)
        assert got == {7: 60, 12: 120}
