"""Curation workflow (k-fold splits + gold-span confidence annotation) —
reference create_confidence_splits.py semantics."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gliner_spark.config import PipelineConfig
from gliner_spark.kernel.decode import greedy_search_reference, score_fixed_spans
from gliner_spark.operators.curation import (
    confidence_splits,
    kfold_assign,
    score_gold_spans,
)
from gliner_spark.operators.ner import extract_entities_token
from gliner_spark.sources.transcripts import synth_transcripts

LABELS = ["person", "organization", "tool"]


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_convs=30).cache()
    df.count()
    return df


def test_kfold_deterministic_partition(spark, transcripts):
    k = 5
    a = kfold_assign(transcripts, k)
    rows = a.select("conv_id", "turn_idx", "fold").collect()
    # every example in exactly one fold, all folds in range and present
    assert all(0 <= r.fold < k for r in rows)
    assert len({r.fold for r in rows}) == k
    b = {(r.conv_id, r.turn_idx): r.fold
         for r in kfold_assign(transcripts, k).collect()}
    assert all(b[(r.conv_id, r.turn_idx)] == r.fold for r in rows)
    # a different seed shuffles examples across folds
    c = {(r.conv_id, r.turn_idx): r.fold
         for r in kfold_assign(transcripts, k, seed=7).collect()}
    assert any(c[key] != fold for key, fold in
               ((k_, v) for k_, v in b.items()))
    with pytest.raises(ValueError, match="folds"):
        kfold_assign(transcripts, k=1)


def _calculate_span_score_reference(spans, probs, threshold):
    """Literal restatement of create_confidence_splits.py:42-58
    calculate_span_score over the gold start/end tuples (:120-126),
    numpy for torch: candidate set = same-class starts × ends cross
    product, score = min(inside[st..ed] ∪ {start[st], end[ed]})."""
    start_idx = ([s for s, _e, _c in spans], [c for _s, _e, c in spans])
    end_idx = ([e for _s, e, _c in spans], [c for _s, _e, c in spans])
    span_i = []
    for st, cls_st in zip(*start_idx):
        for ed, cls_ed in zip(*end_idx):
            if ed >= st and cls_st == cls_ed:
                ins = probs[st : ed + 1, cls_st, 2]
                if (ins < threshold).any():
                    continue
                combined = np.concatenate(
                    [ins, probs[st, cls_st, 0:1], probs[ed, cls_st, 1:2]]
                )
                span_i.append((st, ed, cls_st, float(combined.min())))
    return span_i


def test_score_fixed_spans_cross_product_matches_reference():
    """≥2 same-class gold spans must produce the reference's combined
    start×end candidates, which can displace the gold spans in greedy."""
    rng = np.random.default_rng(0)
    L, C, thr = 6, 2, 0.4
    probs = np.full((L, C, 3), 0.9)
    # gold: (0,1,c0) and (3,4,c0). Weak end[1] and start[3] make the
    # combined (0,4) candidate outscore both gold spans.
    probs[1, 0, 1] = 0.5   # end score of (0,1) -> span score 0.5
    probs[3, 0, 0] = 0.6   # start score of (3,4) -> span score 0.6
    gold = [(0, 1, 0), (3, 4, 0)]
    out = score_fixed_spans(probs, gold, L, thr, flat_ner=True)
    ref = greedy_search_reference(
        _calculate_span_score_reference(gold, probs, thr), flat_ner=True
    )
    assert out == ref
    # the combined candidate won: flat greedy keeps ONLY (0, 4)
    assert [(s, e, c) for s, e, c, _ in out] == [(0, 4, 0)]
    assert out[0][3] == pytest.approx(0.9)

    # randomized parity: kernel == reference restatement for arbitrary
    # probs and gold sets (incl. duplicates / shared endpoints)
    for trial in range(25):
        probs = rng.uniform(0.0, 1.0, size=(L, C, 3))
        n = int(rng.integers(1, 5))
        gold = [
            (int(s), int(s + rng.integers(0, L - s)), int(rng.integers(0, C)))
            for s in rng.integers(0, L, size=n)
        ]
        for flat in (True, False):
            got = score_fixed_spans(probs, gold, L, thr, flat_ner=flat)
            want = greedy_search_reference(
                _calculate_span_score_reference(gold, probs, thr),
                flat_ner=flat,
            )
            assert got == want, (trial, flat, gold)


def test_gold_confidence_reproduces_token_decode_scores(spark, transcripts):
    """Feeding the token-mode decoder's own spans back as gold must
    reproduce their scores exactly: the decoder's span score IS
    min(inside.. , start, end) at the same threshold, and decoded spans
    are already non-overlapping so greedy keeps them all."""
    thr = 0.5
    pred = extract_entities_token(transcripts, LABELS, threshold=thr)
    gold = pred.select("conv_id", "turn_idx", "tok_start", "tok_end", "label")
    expected = {
        (r.conv_id, r.turn_idx, r.tok_start, r.tok_end, r.label):
            round(r.score, 9)
        for r in pred.collect()
    }
    assert len(expected) > 20
    got = {
        (r.conv_id, r.turn_idx, r.tok_start, r.tok_end, r.label):
            round(r.confidence, 9)
        for r in score_gold_spans(
            transcripts, gold, LABELS, threshold=thr
        ).collect()
    }
    assert got == expected


def test_gold_spans_filtered_like_reference(spark, transcripts):
    one = transcripts.limit(1).select("conv_id", "turn_idx")
    bad_gold = one.select(
        "conv_id",
        "turn_idx",
        F.explode(
            F.array(
                # out of range / inverted / unknown label — all dropped
                F.struct(F.lit(-1).alias("tok_start"), F.lit(0).alias("tok_end"),
                         F.lit("person").alias("label")),
                F.struct(F.lit(3).alias("tok_start"), F.lit(1).alias("tok_end"),
                         F.lit("person").alias("label")),
                F.struct(F.lit(0).alias("tok_start"), F.lit(99999).alias("tok_end"),
                         F.lit("person").alias("label")),
                F.struct(F.lit(0).alias("tok_start"), F.lit(1).alias("tok_end"),
                         F.lit("no_such_type").alias("label")),
            )
        ).alias("g"),
    ).select("conv_id", "turn_idx", "g.tok_start", "g.tok_end", "g.label")
    assert score_gold_spans(transcripts, bad_gold, LABELS).count() == 0
    # an impossible threshold drops everything (sigmoid probs < 1)
    ok_gold = one.select(
        "conv_id", "turn_idx",
        F.lit(0).alias("tok_start"), F.lit(1).alias("tok_end"),
        F.lit("person").alias("label"),
    )
    assert score_gold_spans(
        transcripts, ok_gold, LABELS, threshold=1.0
    ).count() == 0


def test_confidence_splits_table(spark, transcripts):
    pred = extract_entities_token(transcripts, LABELS, threshold=0.5)
    gold = pred.select("conv_id", "turn_idx", "tok_start", "tok_end", "label")
    out = confidence_splits(transcripts, gold, LABELS, k=4, threshold=0.5)
    rows = out.collect()
    n_examples = gold.select("conv_id", "turn_idx").distinct().count()
    assert len(rows) == n_examples
    assert all(0 <= r.fold < 4 for r in rows)
    assert all(r.n_spans > 0 for r in rows)  # gold came from the decoder
    assert all(
        r.min_confidence is not None
        and r.min_confidence <= r.mean_confidence + 1e-12
        for r in rows
    )
    # a crushing threshold keeps every example visible with n_spans = 0
    empty = confidence_splits(
        transcripts, gold, LABELS, k=4, threshold=1.0
    ).collect()
    assert len(empty) == n_examples
    assert all(r.n_spans == 0 and r.min_confidence is None for r in empty)


def test_quantile_buckets_deterministic_and_balanced(spark):
    from pyspark.sql import Row

    from gliner_spark.operators.curation import quantile_buckets

    # heavy ties: 40 rows, only 4 distinct scores — the id tiebreak must
    # still produce a deterministic, balanced 1..10 bucketing
    rows = [Row(doc_id=i, score=float(i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows)
    a = {r.doc_id: r.bucket for r in
         quantile_buckets(df, "score", 10).collect()}
    b = {r.doc_id: r.bucket for r in
         quantile_buckets(df, "score", 10).collect()}
    assert a == b
    from collections import Counter

    sizes = Counter(a.values())
    assert set(sizes) == set(range(1, 11))
    assert all(v == 4 for v in sizes.values())
    # order respected: every doc in bucket 1 scores <= every doc in 10
    lo = max(r for r, bk in a.items() if bk == 1)
    assert rows[lo].score <= min(
        rows[r].score for r, bk in a.items() if bk == 10
    )


def test_stratified_sample_matches_python_md5(spark):
    import hashlib

    from pyspark.sql import Row

    from gliner_spark.operators.curation import stratified_sample

    rows = [Row(doc_id=i, lang="en" if i % 3 else "de") for i in range(300)]
    rates = {"en": 0.4, "de": 0.8}
    got = {r.doc_id for r in stratified_sample(
        spark.createDataFrame(rows), "lang", rates).collect()}

    def u(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 2**32

    want = {r.doc_id for r in rows if u(r.doc_id) < rates[r.lang]}
    assert got == want
    # rate sanity: roughly rate fraction of each stratum survives
    n_en = sum(1 for r in rows if r.lang == "en")
    assert abs(sum(1 for i in got if i % 3) / n_en - 0.4) < 0.1


def test_stratified_sample_default_rate_zero_drops_unlisted(spark):
    from pyspark.sql import Row

    from gliner_spark.operators.curation import stratified_sample

    rows = [Row(doc_id=i, lang="xx") for i in range(50)]
    assert stratified_sample(
        spark.createDataFrame(rows), "lang", {"en": 1.0}).count() == 0


def test_dsir_weights_match_python_oracle(spark):
    """dsir_weights vs an independent pure-Python reimplementation of
    the paper math (hashed unigram+bigram bag, add-one smoothing,
    log-ratio sum) over the sf0.001 documents with target = lang='en'.
    Also pins the sign property the op exists for: the MEAN weight of
    target-member docs exceeds the mean of non-members."""
    import hashlib
    import math
    import re

    from gliner_spark.operators.curation import dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.where("lang = 'en'")
    B = 512
    got = {
        r.doc_id: r.log_weight
        for r in dsir_weights(docs, target, n_buckets=B).collect()
    }

    pat = re.compile(r"\w+(?:[-_]\w+)*|\S", re.ASCII)

    def grams(text):
        t = pat.findall(text.lower())
        return t + [" ".join(t[i : i + 2]) for i in range(len(t) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    rows = docs.select("doc_id", "text", "lang").collect()
    cr, ct = [0] * B, [0] * B
    per_doc = {}
    for r in rows:
        bs = [bucket(g) for g in grams(r.text)]
        per_doc[r.doc_id] = bs
        for b in bs:
            cr[b] += 1
            if r.lang == "en":
                ct[b] += 1
    t_tot, r_tot = sum(ct) + B, sum(cr) + B
    lr = [
        math.log(ct[b] + 1) - math.log(t_tot)
        - math.log(cr[b] + 1) + math.log(r_tot)
        for b in range(B)
    ]
    want = {d: sum(lr[b] for b in bs) for d, bs in per_doc.items()}
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d] - want[d]) < 1e-9, d

    en = [want[r.doc_id] for r in rows if r.lang == "en"]
    other = [want[r.doc_id] for r in rows if r.lang != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)


def test_dsir_sample_gumbel_topk_deterministic(spark):
    """dsir_sample = top-k of round(log_weight/T + gumbel(md5_uniform))
    with id tie-break — verified against the python oracle, and
    identical across two runs (the determinism that makes resumes and
    oracle checks possible)."""
    import hashlib
    import math

    from gliner_spark.operators.curation import dsir_sample, dsir_weights

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.where("lang = 'en'")
    w = {r.doc_id: r.log_weight
         for r in dsir_weights(docs, target, n_buckets=512).collect()}

    def score(d):
        u = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) / 2**32
        return round(w[d] + -math.log(-math.log(u)), 6)

    want = sorted(w, key=lambda d: (-score(d), d))[:10]
    got1 = dsir_sample(docs, target, k=10, n_buckets=512)
    got2 = dsir_sample(docs, target, k=10, n_buckets=512)
    ids1 = [r.doc_id for r in got1.collect()]
    ids2 = [r.doc_id for r in got2.collect()]
    assert ids1 == want
    assert ids1 == ids2
    for r in got1.collect():
        assert abs(r.score - score(r.doc_id)) < 1e-6


def test_mixture_sample_matches_naive_python_fold(spark):
    """Two-pass bucketed mixture_sample == the naive per-group (u, id)
    walk computed in Python: same survivor set and the same running
    totals, with n_buckets tiny (4) so documents genuinely straddle
    buckets and the offset join is exercised."""
    import hashlib

    from pyspark.sql import Row

    from gliner_spark.operators.curation import mixture_sample

    rows = [
        Row(doc_id=i, source=f"s{i % 3}", text="w " * (5 + i % 17))
        for i in range(120)
    ]
    budgets = {"s0": 90, "s1": 25}
    got = {
        (r.doc_id, r.source, r.n_tokens, r.cum_tokens)
        for r in mixture_sample(
            spark.createDataFrame(rows).repartition(7),
            "source",
            budgets,
            default_budget=40,
            n_buckets=4,
        ).collect()
    }

    def u(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 2**32

    want = set()
    for g in ("s0", "s1", "s2"):
        cum = 0
        for r in sorted(
            (r for r in rows if r.source == g),
            key=lambda r: (u(r.doc_id), r.doc_id),
        ):
            n = len(r.text.split())
            if cum < budgets.get(g, 40):
                want.add((r.doc_id, g, n, cum + n))
            cum += n
    assert got == want
    assert want, "budgets must actually keep something"
    # every group crossed its budget (the boundary doc IS kept)
    for g, b in (("s0", 90), ("s1", 25), ("s2", 40)):
        assert max(c for _, s, _, c in got if s == g) >= b


def test_mixture_sample_zero_budget_and_tiny_budget(spark):
    """default_budget=0 drops unlisted groups entirely; a budget smaller
    than the shortest doc still keeps exactly one doc (the crosser)."""
    from pyspark.sql import Row

    from gliner_spark.operators.curation import mixture_sample

    rows = [
        Row(doc_id=i, source="a" if i < 40 else "b", text="x y z w v")
        for i in range(80)
    ]
    out = mixture_sample(
        spark.createDataFrame(rows), "source", {"a": 1}, default_budget=0
    ).collect()
    assert {r.source for r in out} == {"a"}
    assert len(out) == 1 and out[0].n_tokens == 5 and out[0].cum_tokens == 5


@pytest.fixture(scope="module")
def planted(spark):
    """A corpus with one planted doc per tagger, plus curate_corpus
    keyword arguments that turn every tagger on → (docs, kwargs)."""
    from pyspark.sql import Row

    good = "the quick brown fox jumps over the lazy dog and runs away home"
    rows = [
        Row(doc_id=1, source="a", text=good + " one extra sentence here"),
        Row(doc_id=2, source="a", text=good + " a different good document"),
        # 3 is an exact copy of 1 (exact_dup loser; also a near-dup loser)
        Row(doc_id=3, source="a", text=good + " one extra sentence here"),
        # 4 is a near-copy of 2 (near_dup loser only)
        Row(doc_id=4, source="a",
            text=good + " a different good document indeed"),
        # 5: punctuation garbage (quality 0.41 < 0.5)
        Row(doc_id=5, source="a", text="! ? . ! ? . ! ? ."),
        # 6: one bigram repeated (repetitive; also low unique_ratio)
        Row(doc_id=6, source="a", text="spam ham " * 30),
        # 7: German (bad_lang under allowed={'en'})
        Row(doc_id=7, source="a",
            text="der hund und die katze sind nicht mit dem mann im haus"),
        # 8: shares a 5-gram with the benchmark (contaminated)
        Row(doc_id=8, source="a",
            text="leaked secret benchmark answer string appears in this doc"),
        # 9: clean, in-vocabulary, but in the zero-budget source
        # (over_budget) — must stay below the perplexity gate or it
        # would drop before the budget mixer ever sees it
        Row(doc_id=9, source="b",
            text=good + " and the dog runs over the lazy fox sample"),
        # 10: contains a banned term (blocklisted)
        Row(doc_id=10, source="a",
            text=good + " but it also mentions the forbidden gizmo term"),
        # 11: spam-vocabulary doc the learned classifier must reject
        Row(doc_id=11, source="a",
            text="buy cheap pills now click winner prize deal wow "
                 "free offer buy cheap pills now click winner prize"),
        # 12: every line is a bullet (gopher_fail)
        Row(doc_id=12, source="a",
            text="- alpha point\n- beta point\n- gamma point\n- delta"),
        # 13: clean text whose EMBEDDING matches a benchmark vector
        Row(doc_id=13, source="a",
            text=good + " semantically leaked content paraphrased"),
        # 14: gibberish bigrams the reference LM has never seen
        # (high_perplexity; vocabulary-level junk, not just rare words)
        Row(doc_id=14, source="a",
            text="zqx vwk jfp qgh xzn wvv kqj pfx ghq nzx "
                 "zqx vwk jfp qgh xzn"),
    ]
    bench = [Row(doc_id=100, source="x",
                 text="the leaked secret benchmark answer string")]
    from gliner_spark.operators.classifier import train_quality_classifier

    clf_pos = spark.createDataFrame(
        [Row(doc_id=i, text=good + f" sample {i}") for i in range(8)])
    clf_neg = spark.createDataFrame(
        [Row(doc_id=i,
             text="buy cheap pills now click winner prize deal wow "
                  f"free offer {i}") for i in range(8)])
    weights = train_quality_classifier(
        clf_pos, clf_neg, n_buckets=4096, iters=12, lr=0.5)
    from gliner_spark.operators.lm import train_bigram_lm

    lm_model = train_bigram_lm(clf_pos)
    kwargs = dict(
        min_quality=0.5,
        allowed_langs={"en", "und"},
        benchmark_docs=spark.createDataFrame(bench),
        decontam_n=5,
        near_dup_threshold=0.7,
        blocklist_terms=["gizmo", "unused"],
        classifier_weights=weights,
        min_classifier_prob=0.3,
        mixture_budgets={"a": 10_000},
        mixture_default_budget=0,
        apply_gopher_rules=True,
        lm_model=lm_model,
        max_perplexity=10.0,
        doc_embeddings=spark.createDataFrame(
            [Row(doc_id=1, embedding=[0.0, 1.0, 0.0, 0.0]),
             Row(doc_id=13, embedding=[2.0, 0.0, 0.0, 0.0])]),
        benchmark_embeddings=spark.createDataFrame(
            [Row(vec_id=100, embedding=[1.0, 0.0, 0.0, 0.0])]),
        semantic_threshold=0.95,
    )
    return spark.createDataFrame(rows), kwargs


def test_curate_corpus_reason_codes_and_report(planted):
    """Every tagger fires on its planted doc and ONLY that doc (plus the
    budget mixer on the survivor set); the report is consistent with the
    decisions."""
    from gliner_spark.operators.curation import curate_corpus

    docs, kwargs = planted
    decisions, report = curate_corpus(docs, **kwargs)
    got = {r.doc_id: (r.keep, set(r.reasons)) for r in decisions.collect()}
    assert got[1] == (True, set())
    assert got[2] == (True, set())
    assert "exact_dup" in got[3][1] and not got[3][0]
    assert "near_dup" in got[4][1] and not got[4][0]
    assert "low_quality" in got[5][1]
    assert "repetitive" in got[6][1]
    # the reference LM is trained on clf_pos's narrow vocabulary, so
    # every out-of-domain doc ALSO carries high_perplexity — the CCNet
    # behavior (keep what resembles the trusted corpus); membership
    # assertions below, exact sets only where vocab overlaps
    assert "bad_lang" in got[7][1] and not got[7][0]
    assert "contaminated" in got[8][1] and not got[8][0]
    assert "over_budget" in got[9][1] and not got[9][0]
    assert got[10] == (False, {"blocklisted"})
    assert "low_classifier_score" in got[11][1] and not got[11][0]
    assert all("low_classifier_score" not in got[i][1] for i in (1, 2))
    assert "gopher_fail" in got[12][1] and not got[12][0]
    assert got[14] == (False, {"high_perplexity"})
    assert all("high_perplexity" not in got[i][1]
               for i in (1, 2, 10, 13))
    assert "semantic_contaminated" in got[13][1] and not got[13][0]
    # the embedded-but-orthogonal doc 1 stays clean
    assert "semantic_contaminated" not in got[1][1]
    rep = {r.reason: r.n_docs for r in report.collect()}
    assert rep["total"] == 14 and rep["kept"] == 2
    assert rep["over_budget"] == 1 and rep["exact_dup"] == 1
    # reasons histogram matches decisions exactly
    from collections import Counter

    c = Counter(x for _, (_, rs) in got.items() for x in rs)
    assert all(rep[k] == v for k, v in c.items())


def test_curate_corpus_matches_per_tagger_oracle(planted):
    """Each tagger run alone through its public function, its flags
    composed in plain Python in the mixer's reason order, equals
    curate_corpus's decisions exactly: keep and the ORDERED reasons."""
    from gliner_spark.operators.classifier import score_quality
    from gliner_spark.operators.curation import (
        curate_corpus,
        decontaminate,
        mixture_sample,
        semantic_decontaminate,
    )
    from gliner_spark.operators.dedup import (
        exact_duplicates,
        minhash_near_duplicates,
    )
    from gliner_spark.operators.lm import score_perplexity
    from gliner_spark.operators.textstats import (
        blocklist_stats,
        gopher_stats,
        language_id,
        quality_scores,
        repetition_stats,
    )

    docs, kw = planted
    ids = {r.doc_id for r in docs.select("doc_id").collect()}

    def ids_where(df, pred):
        return {r.doc_id for r in df.collect() if pred(r)}

    exact = {
        d
        for r in exact_duplicates(docs).collect()
        for d in r.doc_ids
        if d != r.keep_doc_id
    }
    # near-dup survivors: the min doc_id of each connected component
    # of the verified pair graph (python union-find)
    parent = {d: d for d in ids}

    def find(d):
        while parent[d] != d:
            d = parent[d]
        return d

    for r in minhash_near_duplicates(
        docs, jaccard_threshold=kw["near_dup_threshold"]
    ).collect():
        a, b = find(r.doc_a), find(r.doc_b)
        parent[max(a, b)] = min(a, b)
    near_kept = {d for d in ids if find(d) == d}
    semantic = ids_where(
        semantic_decontaminate(
            kw["doc_embeddings"],
            kw["benchmark_embeddings"],
            threshold=kw["semantic_threshold"],
            id_col="doc_id",
        ),
        lambda r: r.contaminated == 1,
    )
    flags = [
        ("exact_dup", exact),
        ("near_dup", ids - near_kept),
        ("low_quality", ids_where(
            quality_scores(docs), lambda r: r.quality < kw["min_quality"])),
        ("repetitive", ids_where(
            repetition_stats(docs),
            lambda r: r.dup_line_frac > 0.3 or r.top_bigram_frac > 0.3)),
        ("bad_lang", ids_where(
            language_id(docs),
            lambda r: r.pred_lang not in kw["allowed_langs"])),
        ("low_classifier_score", ids_where(
            score_quality(docs, kw["classifier_weights"]),
            lambda r: r.quality_prob < kw["min_classifier_prob"])),
        ("high_perplexity", ids_where(
            score_perplexity(docs, kw["lm_model"]),
            lambda r: r.perplexity > kw["max_perplexity"])),
        ("blocklisted", ids_where(
            blocklist_stats(docs, kw["blocklist_terms"]),
            lambda r: r.n_hits > 0 and r.hit_frac > 0.0)),
        ("contaminated", ids_where(
            decontaminate(docs, kw["benchmark_docs"], n=kw["decontam_n"]),
            lambda r: r.contaminated == 1)),
        ("gopher_fail", ids_where(
            gopher_stats(docs), lambda r: r.gopher_ok == 0)),
        ("semantic_contaminated", semantic),
    ]
    want = {d: [name for name, losers in flags if d in losers] for d in ids}
    survivors = sorted(d for d, rs in want.items() if not rs)
    in_budget = ids_where(
        mixture_sample(
            docs.where(F.col("doc_id").isin(survivors)),
            "source",
            kw["mixture_budgets"],
            default_budget=kw["mixture_default_budget"],
        ),
        lambda r: True,
    )
    for d in survivors:
        if d not in in_budget:
            want[d].append("over_budget")

    decisions, _ = curate_corpus(docs, **kw)
    got = {r.doc_id: (r.keep, list(r.reasons)) for r in decisions.collect()}
    assert got == {d: (not rs, rs) for d, rs in want.items()}
    # non-vacuous: every reason code fires on the planted corpus
    fired = {x for rs in want.values() for x in rs}
    assert fired == {name for name, _ in flags} | {"over_budget"}


def test_curate_corpus_blocklist_literal_and_broadcast_paths_agree(spark):
    """64 terms fold to a literal probe array; one never-matching extra
    term crosses `max_literal_terms` onto the one-row broadcast path.
    The decisions must not change across that threshold."""
    from gliner_spark.curation_pipeline import synth_corpus
    from gliner_spark.operators.curation import curate_corpus

    docs = synth_corpus(spark, 200)
    terms = [f"w{i * 997 % 50000}" for i in range(64)]

    def decide(blocklist):
        decisions, _ = curate_corpus(docs, blocklist_terms=blocklist)
        return sorted(
            (r.doc_id, r.keep, list(r.reasons)) for r in decisions.collect()
        )

    literal = decide(terms)
    assert any("blocklisted" in rs for _, _, rs in literal)
    assert decide(terms + ["never-a-token-zz"]) == literal


def test_curate_corpus_no_optional_stages(spark):
    """With no lang/benchmark/budget config only the four core taggers
    run, and a clean corpus passes untouched."""
    from pyspark.sql import Row

    from gliner_spark.operators.curation import curate_corpus

    rows = [
        Row(doc_id=i, source="a",
            text=f"document number {i} talks about topic {i * 7} in "
                 f"plain english words with enough length to pass")
        for i in range(6)
    ]
    decisions, report = curate_corpus(spark.createDataFrame(rows))
    assert all(r.keep and r.reasons == [] for r in decisions.collect())
    rep = {r.reason: r.n_docs for r in report.collect()}
    assert rep == {"total": 6, "kept": 6}


def test_corpus_divergence_math_and_bounds(spark):
    """Identical corpora give exactly 0; heavily disjoint vocabularies
    push JS toward ln 2; values match a pure-python restatement."""
    import math
    import re

    from pyspark.sql import Row

    from gliner_spark.operators.curation import corpus_divergence

    a_rows = [Row(doc_id=i,
                  text=" ".join(f"al{j}" for j in range(10)) + f" {i % 3}")
              for i in range(100)]
    b_rows = [Row(doc_id=i,
                  text=" ".join(f"ze{j}" for j in range(10)) + f" {i % 3}")
              for i in range(100)]
    a = spark.createDataFrame(a_rows)
    b = spark.createDataFrame(b_rows)

    same = corpus_divergence(a, a, n_buckets=256).collect()[0]
    assert same.js == 0.0 and same.kl_am == 0.0

    far = corpus_divergence(a, b, n_buckets=256).collect()[0]
    assert 0.3 < far.js <= math.log(2) + 1e-9

    # pure-python restatement (same md5 bucket, same smoothing)
    import hashlib

    pat = re.compile(r"\w+(?:[-_]\w+)*|\S")

    def buckets(rows, n):
        counts = [0] * n
        for r in rows:
            ts = pat.findall(r.text.lower())
            grams = ts + [f"{x} {y}" for x, y in zip(ts, ts[1:])]
            for g in grams:
                counts[int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                       % n] += 1
        return counts

    ca, cb = buckets(a_rows, 256), buckets(b_rows, 256)
    ta, tb = sum(ca) + 256, sum(cb) + 256
    kl_am = kl_bm = 0.0
    for i in range(256):
        pa, pb = (ca[i] + 1) / ta, (cb[i] + 1) / tb
        m = (pa + pb) / 2
        kl_am += pa * math.log(pa / m)
        kl_bm += pb * math.log(pb / m)
    assert far.kl_am == round(kl_am, 6)
    assert far.kl_bm == round(kl_bm, 6)
    assert far.js == round((kl_am + kl_bm) / 2, 6)
    assert far.n_grams_a == sum(ca) and far.n_grams_b == sum(cb)


def test_minhash_near_duplicates_tolerates_empty_docs(spark):
    """Empty/boilerplate-only docs share the padded MinHash signature;
    they must neither pair with each other nor 0/0 the Jaccard verify
    (ANSI throws) — the line-dedup'd corpus shape."""
    from pyspark.sql import Row

    from gliner_spark.operators.dedup import minhash_near_duplicates

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base + " tail"),
        Row(doc_id=3, text=""),
        Row(doc_id=4, text=""),
        Row(doc_id=5, text="   "),
    ]
    out = minhash_near_duplicates(
        spark.createDataFrame(rows), jaccard_threshold=0.5
    ).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (1, 2) in pairs
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in pairs)


def test_curation_pipeline_end_to_end_and_resume(spark, tmp_path_factory):
    from gliner_spark.curation_pipeline import (
        run_curation_pipeline,
        synth_corpus,
    )

    out = str(tmp_path_factory.mktemp("cur_pipe"))
    docs = synth_corpus(spark, 600)
    bench = docs.where("doc_id % 199 = 0").select("doc_id", "text")
    kwargs = dict(
        input_token="t:600",
        blocklist_terms=("w100", "w200"),
        benchmark_docs=bench,
        benchmark_token="t:600:mod199",
        mixture_budgets={"src0": 10**9},
        mixture_default_budget=10**9,
        n_shards=4,
        max_len=128,
    )
    res = run_curation_pipeline(spark, docs, out, **kwargs)
    rep = {r["reason"]: r["n_docs"] for r in res.report.collect()}
    assert rep["total"] == 612  # 600 + 12 planted exact copies
    assert rep.get("exact_dup", 0) >= 12
    assert res.shards.count() == rep["kept"]
    assert res.packed.count() > 0
    # boilerplate really came out in stage 1
    assert res.cleaned.where(
        "text like '%subscribe to our newsletter%'"
    ).count() == 0
    # resume: identical rerun adds no lineage rows and reuses outputs
    n_lineage = res.runner.lineage().count()
    res2 = run_curation_pipeline(spark, docs, out, **kwargs)
    assert res2.runner.lineage().count() == n_lineage
    assert res2.decisions.count() == rep["total"]
    # config change reruns ONLY downstream of decisions (docs_clean reused)
    res3 = run_curation_pipeline(
        spark, docs, out, **{**kwargs, "min_quality": 0.4}
    )
    lin = {
        (r.stage, r.fingerprint)
        for r in res3.runner.lineage().collect()
    }
    stages = [s for s, _ in lin]
    assert stages.count("docs_clean") == 1      # untouched by the flip
    assert stages.count("decisions") == 2       # re-ran under the new fp


# ------------------------------------------------------ leakage_safe_split


def test_leakage_safe_split_no_edge_straddles_folds(spark):
    from gliner_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # two chains (0-1-2-3) and (10-11), plus a pair (20, 21)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (20, 21)],
        "doc_a long, doc_b long",
    )
    out = leakage_safe_split(docs, edges, k=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 40
    # transitive: the whole chain shares one fold and one component
    assert len({rows[i]["fold"] for i in (0, 1, 2, 3)}) == 1
    assert {rows[i]["component_id"] for i in (0, 1, 2, 3)} == {0}
    assert rows[10]["fold"] == rows[11]["fold"]
    assert rows[20]["fold"] == rows[21]["fold"]
    # singletons are their own component
    assert rows[7]["component_id"] == 7
    assert all(0 <= r["fold"] < 3 for r in rows.values())


def test_leakage_safe_split_matches_python_md5(spark):
    import hashlib

    from gliner_spark.operators.curation import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, "x") for i in range(64)], "doc_id long, text string"
    )
    edges = spark.createDataFrame([(2, 5)], "doc_a long, doc_b long")
    out = {
        r["doc_id"]: r["fold"]
        for r in leakage_safe_split(docs, edges, k=5, seed=7).collect()
    }

    def py_fold(rep):
        h = hashlib.md5(f"7:{rep}".encode()).hexdigest()
        return int(h[:8], 16) % 5

    for i in range(64):
        rep = 2 if i in (2, 5) else i
        assert out[i] == py_fold(rep), i


def test_leakage_safe_split_balanced_and_deterministic(spark):
    from gliner_spark.operators.curation import leakage_safe_split

    import pytest as _pytest

    docs = spark.createDataFrame(
        [(i, "x") for i in range(3000)], "doc_id long, text string"
    )
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    a = leakage_safe_split(docs, edges, k=5).groupBy("fold").count()
    sizes = {r["fold"]: r["count"] for r in a.collect()}
    assert set(sizes) == {0, 1, 2, 3, 4}
    assert max(sizes.values()) / min(sizes.values()) < 1.3
    b = {
        r["doc_id"]: r["fold"]
        for r in leakage_safe_split(docs, edges, k=5).collect()
    }
    c = {
        r["doc_id"]: r["fold"]
        for r in leakage_safe_split(docs, edges, k=5).collect()
    }
    assert b == c
    with _pytest.raises(ValueError):
        leakage_safe_split(docs, edges, k=1)
