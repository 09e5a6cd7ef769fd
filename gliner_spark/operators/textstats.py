"""Text analysis over a document corpus: token stats, quality scoring,
language ID. 100% native expressions (whole-stage codegen; zero Python
in the hot path) — these run as pure map stages with no shuffle, so
they pipeline with the parquet scan at any scale.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints (PEP 563)

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    punct_ratio,
    stopword_ratio,
    tokens,
)

# language marker words (tiny n-gram/stopword heuristic; deterministic)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "that"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "los"],
}


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token statistics (whitespace+punct regex tokens)."""
    toks = tokens(F.col(text_col))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars_exact"),
        F.size(F.array_distinct(F.transform(toks, F.lower))).alias(
            "n_unique_tokens"
        ),
        F.round(
            F.when(
                F.size(toks) > 0,
                F.aggregate(
                    toks, F.lit(0), lambda acc, t: acc + F.length(t)
                ).cast("double")
                / F.size(toks),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
    )


def _named(cols: dict) -> list:
    return [c.alias(name) for name, c in cols.items()]


def quality_cols(text_col: str = "text") -> dict:
    """`quality_scores`' columns as named expressions over `text_col`,
    so a caller can fuse them into a wider projection."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    uniq_frac = F.when(
        n_tok > 0,
        F.size(F.array_distinct(F.transform(toks, F.lower))) / n_tok,
    ).otherwise(F.lit(0.0))
    length_ok = F.when((n_tok >= 10) & (n_tok <= 5000), 1.0).otherwise(0.3)
    punct = punct_ratio(F.col(text_col))
    punct_ok = F.when(punct <= 0.2, 1.0).otherwise(0.5)
    sw = stopword_ratio(toks)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), 1.0).otherwise(0.6)
    score = F.round(
        0.3 * length_ok + 0.2 * punct_ok + 0.2 * sw_ok + 0.3 * uniq_frac, 6
    )
    return {
        "n_tokens": n_tok,
        "punct_ratio": F.round(punct, 6),
        "stopword_ratio": F.round(sw, 6),
        "unique_ratio": F.round(uniq_frac, 6),
        "quality": score,
    }


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1] from length / punctuation /
    stopword / repetition signals — the standard pre-training filter shape
    (Gopher/C4-style rules, simplified and deterministic)."""
    return docs.select("doc_id", *_named(quality_cols(text_col)))


def language_cols(text_col: str = "text") -> dict:
    """Per-language marker hit counts plus the CJK test: the map-side
    inputs of `predicted_lang`, as named expressions over `text_col`."""
    # hash the token stream ONCE, probe each language's folded-constant
    # hash array — int64 compares beat string compares 2.6× in
    # interpreted HOFs (measured on the blocklist twin), values identical
    toks = F.transform(
        tokens(F.col(text_col)), lambda t: F.xxhash64(F.lower(t))
    )
    cols = {}
    for lang, markers in sorted(_LANG_MARKERS.items()):
        m = F.array(*[F.xxhash64(F.lit(w)) for w in markers])
        cols[f"hits_{lang}"] = F.size(
            F.filter(toks, lambda t: F.array_contains(m, t))
        )
    cols["_cjk"] = (
        F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", "")) > 0
    )
    return cols


def predicted_lang():
    """argmax language over `language_cols`' columns. A separate
    projection level: each hit count feeds the struct-max twice, and
    the hit counts are interpreted HOFs that must not be inlined (and
    re-evaluated) per reference."""
    pairs = F.array(
        *[
            F.struct(
                F.col(f"hits_{lang}").alias("hits"),
                # negative alphabetical rank so struct-max tie-breaks to the
                # alphabetically FIRST language deterministically
                F.lit(-i).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(_LANG_MARKERS))
        ]
    )
    best = F.array_max(pairs)
    return F.when(F.col("_cjk"), F.lit("zh")).otherwise(
        F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(
            F.lit("und")
        )
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language scores + argmax prediction.

    CJK detection by Unicode-range regexp; alphabetic languages by marker
    hit counts with deterministic tie-break on language code order."""
    return docs.select("doc_id", *_named(language_cols(text_col))).select(
        "doc_id",
        *[F.col(f"hits_{lang}") for lang in sorted(_LANG_MARKERS)],
        predicted_lang().alias("pred_lang"),
    )


def blocklist_probe(spark, terms, max_literal_terms: int = 64):
    """→ (probe, row): the lowercased blocklist as a sorted xxhash64
    array Column. Up to `max_literal_terms` terms the probe is a
    foldable literal and `row` is None; above that the probe is the
    `_blockset` column of `row`, a ONE-ROW frame the caller
    broadcast-cross-joins onto the docs (hashed inside that row, so a
    big literal is never re-evaluated per element access)."""
    lower_terms = sorted({t.lower() for t in terms})
    if not lower_terms:
        raise ValueError("blocklist_stats: empty term list")
    if len(lower_terms) <= max_literal_terms:
        # xxhash64 of a literal is foldable → a constant bigint array
        return F.array(*[F.xxhash64(F.lit(t)) for t in lower_terms]), None
    row = spark.createDataFrame(
        [(lower_terms,)], "_bl_terms: array<string>"
    ).select(
        F.sort_array(
            F.transform("_bl_terms", lambda t: F.xxhash64(t))
        ).alias("_blockset")
    )
    return F.col("_blockset"), row


def blocklist_cols(blockset, text_col: str = "text") -> dict:
    """`blocklist_stats`' columns as named expressions over `text_col`
    and a `blocklist_probe` probe."""
    htoks = F.transform(
        tokens(F.col(text_col)), lambda t: F.xxhash64(F.lower(t))
    )
    n_tok = F.size(htoks)
    n_hits = F.size(
        F.filter(htoks, lambda h: F.array_contains(blockset, h))
    )
    return {
        "n_tokens": n_tok,
        "n_hits": n_hits,
        # array_intersect dedups its output, so this IS the distinct count
        "n_distinct_hits": F.size(F.array_intersect(htoks, blockset)),
        "hit_frac": F.round(
            F.when(n_tok > 0, n_hits.cast("double") / n_tok).otherwise(
                F.lit(0.0)
            ),
            6,
        ),
    }


def blocklist_stats(
    docs: DataFrame,
    terms,
    text_col: str = "text",
    max_literal_terms: int = 64,
) -> DataFrame:
    """C4/FineWeb-style banned-term tagging: per-doc occurrence count,
    distinct-term hit count, and hit fraction against a lowercased
    blocklist. C4 dropped any page containing a banned word; modern
    pipelines keep the FRACTION as a taggable signal — this emits the
    signal and leaves the threshold to the curation mixer.

    Pure map stage, zero shuffle. Both sides of the probe are
    xxhash64-compacted: int64 array_contains beat the string probe 2.6×
    at 1M docs × 200 terms (25–28 s → ~10 s, identical counts) — the
    same hash-as-key stance as repeated_ngram_spans (a collision could
    miscount one token, vanishingly unlikely and accepted at scale).
    Small lists fold to a literal bigint array at plan time (the
    ≤64-leaf rule); larger lists ride as a ONE-ROW broadcast-joined
    column, hashed inside the broadcast row, so a big literal is never
    re-evaluated per element access (the broadcast-tensor rule). The
    probe is still linear in |terms| — right for wordlist-sized
    blocklists (hundreds); a 100k-term list wants a broadcast semi-join
    on exploded tokens instead (the `curation.decontaminate` shape).
    """
    blockset, row = blocklist_probe(
        docs.sparkSession, terms, max_literal_terms
    )
    src = docs if row is None else docs.crossJoin(F.broadcast(row))
    return src.select("doc_id", *_named(blocklist_cols(blockset, text_col)))


# BPE-ish pre-tokenizer regex (GPT-2 shape, made RE2/Java-safe: the
# original's `\s+(?!\S)` lookahead is dropped and whitespace runs are
# simply not counted): contractions | space?+letters | space?+digits |
# space?+punct-run. Counts approximate BPE token budgets well enough for
# corpus sizing without a merges table.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token-count pair per doc: whitespace-regex tokens vs BPE-ish
    pre-tokenizer pieces, plus chars-per-piece — the corpus-budget
    estimator a training pipeline runs before tokenizing for real. Pure
    map stage, zero shuffle."""
    ws = tokens(F.col(text_col))
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    n_bpe = F.size(bpe)
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens_ws"),
        n_bpe.alias("n_tokens_bpe"),
        F.round(
            F.when(
                n_bpe > 0, F.length(text_col).cast("double") / n_bpe
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("chars_per_bpe_token"),
    )


# PII patterns: RE2/Java/Python-compatible (no lookarounds/backrefs), so
# the same strings drive Spark, DuckDB oracle checks, and the py oracle
PII_PATTERNS = [
    # order matters: emails before phones (digit runs inside addresses)
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"(\+?\d{1,2}[-. ]?)?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]?\d{4}", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII scrubbing: replace emails / phone numbers / IPv4
    addresses with typed placeholders. Pure regexp_replace chain — a
    narrow map stage that pipelines with the scan (zero shuffle at any
    scale), and the redaction-count columns make the downstream audit
    (how much was scrubbed per source) a plain aggregation."""
    redacted = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    out = docs.withColumn("redacted_text", redacted)
    return out.select(
        "doc_id",
        F.col("redacted_text"),
        F.size(F.split("redacted_text", "<EMAIL>", -1)).alias("_e"),
        F.size(F.split("redacted_text", "<PHONE>", -1)).alias("_p"),
        F.size(F.split("redacted_text", "<IP>", -1)).alias("_i"),
    ).select(
        "doc_id",
        "redacted_text",
        (F.col("_e") - 1).alias("n_emails"),
        (F.col("_p") - 1).alias("n_phones"),
        (F.col("_i") - 1).alias("n_ips"),
    )


def corpus_summary(
    docs: DataFrame, text_col: str = "text", rsd: float = 0.02
) -> DataFrame:
    """One-row corpus profile using SKETCHES, not exact distincts — the
    only viable shape at 10^12 documents:

      * vocabulary size via HyperLogLog++ (`approx_count_distinct`,
        relative sd `rsd`) over the exploded token stream — mergeable,
        fixed memory, no giant distinct shuffle;
      * token-count distribution via the GK quantile sketch
        (`percentile_approx`).

    Both partial-aggregate map-side and merge on the driver side of one
    tiny shuffle."""
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    vocab = toks.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.approx_count_distinct("tok", rsd).alias("approx_vocab"),
    )
    dist = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile_approx("n_tok", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10_000).alias("p50_p90_p99"),
        F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
    )
    return dist.crossJoin(vocab).select(
        "n_docs",
        "total_tokens",
        "approx_vocab",
        F.element_at("p50_p90_p99", 1).alias("p50_tokens"),
        F.element_at("p50_p90_p99", 2).alias("p90_tokens"),
        F.element_at("p50_p90_p99", 3).alias("p99_tokens"),
        "avg_tokens",
    )


def repetition_cols(text_col: str = "text") -> dict:
    """`repetition_stats`' columns as named expressions over
    `text_col`."""
    col = F.col(text_col)
    lines = F.transform(F.split(col, "\n"), lambda l: F.xxhash64(l))
    n_lines = F.size(lines)
    toks = tokens(F.lower(col))
    from ..functions.text import hashed_word_ngrams

    tg = hashed_word_ngrams(toks, 3)
    bg = hashed_word_ngrams(toks, 2)

    def dup_frac(arr, n):
        return F.round(
            F.when(
                n > 0,
                F.lit(1.0) - F.size(F.array_distinct(arr)) / n.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )

    # longest equal-run in the sorted array == max occurrence count.
    # init prev=NULL is safe: x == NULL is never true → first run = 1
    top_bigram = F.aggregate(
        F.array_sort(bg),
        F.struct(
            F.lit(None).cast("bigint").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return {
        "n_lines": n_lines,
        "dup_line_frac": dup_frac(lines, n_lines),
        "n_trigrams": F.size(tg),
        "dup_trigram_frac": dup_frac(tg, F.size(tg)),
        "top_bigram_frac": F.round(
            F.when(
                F.size(bg) > 0, top_bigram / F.size(bg).cast("double")
            ).otherwise(F.lit(0.0)),
            6,
        ),
    }


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, simplified):
    duplicate-line fraction, duplicate word-trigram fraction, and the
    fraction of word-bigram occurrences claimed by the single most frequent
    bigram — the standard signals for detecting boilerplate / templated /
    degenerate documents in a pre-training corpus.

    100% native array expressions — a pure map stage that pipelines with
    the scan, zero shuffle at any scale. The top-bigram count is
    array_sort + a single linear run-length fold (O(n log n) per doc) —
    the obvious transform(distinct, d -> count(filter(all, ==d))) shape
    is O(u·n) in INTERPRETED higher-order expressions and measured ~8×
    slower on sf0.01 documents. Lines and n-grams are compared as
    xxhash64 int64 keys, never as strings: the string form (concat per
    gram + string distinct/sort/fold) was the single most expensive
    tagger in the curation mixer — 28.9 s of a 300k-doc profile vs ≤3 s
    for every other tagger — and the hashed zip_with form measured
    8-9× faster on the same corpus (35-39 s -> 3.8-4.3 s, 3 paired
    rounds), identical outputs (hashing only changes the compare key;
    a 64-bit collision would need ~1e-16 luck per doc).
    """
    return docs.select("doc_id", *_named(repetition_cols(text_col)))


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — corpus keyword extraction
    (LLM-data-pipeline op; the reference has no corpus analytics, SURVEY
    §2.10 scope extension).

    score = tf · ln(N / df), ranked per doc by the INTEGER ordering
    (tf desc, df asc, term asc): rank never depends on float math, so the
    output is bit-stable across engines (the float score is emitted as a
    value column only).

    Plan at scale: explode → one map-side-combining hash agg on
    (doc_id, term) for tf; df is a second agg over the tf table (carries
    (term, partial) only — never re-reads the corpus); tf⋈df on term is
    AQE-handled (df side is vocabulary-sized, typically broadcast); the
    final per-doc top-k is a WindowGroupLimit (rank pushed into the
    shuffle, no full sort of the exploded table). N is a driver scalar
    (O(1) collect), pass `n_docs` to skip the count job when known.
    """
    n = n_docs if n_docs is not None else docs.count()
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("raw")
    ).select("doc_id", F.lower(F.col("raw")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df, "term")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 6
            ).alias("score"),
        )
    )


# ------------------------------------------------- unicode normalization

# Character classes shared verbatim by the Spark (Java regex) path, the
# DuckDB (RE2) oracle, and the python oracle in tests — ASCII-escape and
# literal-char syntax all three engines read identically. Control chars
# are C0 minus \t\n\r, plus DEL; the space set is what a web crawl
# actually carries (NBSP, ogham, en/em/thin/zero-width spaces, BOM,
# ideographic space).
CONTROL_CHARS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
UNICODE_SPACES = (
    "[\u00a0\u1680\u2000-\u200b\u202f\u205f\u3000\ufeff]"
)
PUNCT_FOLD_FROM = "\u2018\u2019\u201a\u201c\u201d\u201e\u2013\u2014\u2212"
PUNCT_FOLD_TO = "'''\"\"\"---"


def clean_text(
    docs: DataFrame, text_col: str = "text", nfc: bool = True
) -> DataFrame:
    """C4/ftfy-style unicode cleaning — the normalization stage a crawl
    corpus passes through before any dedup, LM scoring, or tokenization
    (mojibake spaces and curly punctuation otherwise split the hash
    space of every downstream exact/near-dup operator):

      1. strip C0/DEL control characters,
      2. unify unicode spaces to ASCII space,
      3. fold curly quotes / long dashes / minus to ASCII (translate),
      4. squeeze whitespace runs + trim,
      5. NFC-compose combining marks (optional) — the one step with no
         JVM builtin: a vectorized Arrow pandas_udf over unicodedata.
         DuckDB's utf8proc-backed nfc_normalize oracles it in the
         `redact_pii` driver query; both implement the same Unicode
         standard annex, so values are bit-identical.

    Steps 1-4 are native regexp_replace/translate — with nfc=False the
    whole operator is a pure whole-stage-codegen map. Output:
    (doc_id, norm_text, n_chars_raw, n_chars_norm); lengths count
    codepoints on both engines (the BMP-only fold set keeps Java's
    UTF-16 length equal to DuckDB's codepoint length)."""
    s = F.col(text_col)
    raw_len = F.length(s)
    s = F.regexp_replace(s, CONTROL_CHARS, "")
    s = F.regexp_replace(s, UNICODE_SPACES, " ")
    s = F.translate(s, PUNCT_FOLD_FROM, PUNCT_FOLD_TO)
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    if nfc:
        import unicodedata

        @F.pandas_udf("string")
        def _nfc(col: pd.Series) -> pd.Series:
            return col.map(
                lambda t: None
                if t is None
                else unicodedata.normalize("NFC", t)
            )

        s = _nfc(s)
    return docs.select(
        "doc_id",
        s.alias("norm_text"),
        raw_len.alias("n_chars_raw"),
    ).select(
        "doc_id",
        "norm_text",
        "n_chars_raw",
        F.length("norm_text").alias("n_chars_norm"),
    )


def gopher_cols(text_col: str = "text") -> dict:
    """`gopher_stats`' columns as named expressions over `text_col`."""
    ell = "\u2026"
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    mean_wl = F.when(
        n_tok > 0,
        F.aggregate(
            F.transform(toks, F.length),
            F.lit(0),
            lambda a, b: a + b,
        ).cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    n_sym = (
        F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit("#")))
        + F.length(text_col)
        - F.length(F.replace(F.col(text_col), F.lit(ell)))
    )
    sym_ratio = F.when(n_tok > 0, n_sym.cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    alpha_frac = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .cast("double")
        / n_tok,
    ).otherwise(F.lit(0.0))
    bullet_frac = F.size(
        F.filter(lines, lambda l: l.rlike("^\\s*[-*\u2022]"))
    ).cast("double") / n_lines
    ellipsis_frac = F.size(
        F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|\u2026)\\s*$"))
    ).cast("double") / n_lines
    ok = (
        mean_wl.between(3.0, 10.0)
        & (sym_ratio <= 0.1)
        & (alpha_frac >= 0.8)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
    )
    return {
        "mean_word_len": F.round(mean_wl, 6),
        "symbol_word_ratio": F.round(sym_ratio, 6),
        "alpha_word_frac": F.round(alpha_frac, 6),
        "bullet_line_frac": F.round(bullet_frac, 6),
        "ellipsis_line_frac": F.round(ellipsis_frac, 6),
        "gopher_ok": ok.cast("int"),
    }


def gopher_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The remaining Gopher quality rules (Rae et al. 2021, A1.1) as
    native expressions -> (doc_id, mean_word_len, symbol_word_ratio,
    alpha_word_frac, bullet_line_frac, ellipsis_line_frac, gopher_ok):

      * mean word length in [3, 10]
      * symbol-to-word ratio ('#' and ellipsis occurrences / words)
        <= 0.1
      * >= 80% of words contain an alphabetic character
      * <= 90% of lines start with a bullet; <= 30% end with ellipsis

    `repetition_stats` carries Gopher's duplicate-fraction family and
    `quality_scores` the C4-ish basics (doc-length rule included
    there), so `gopher_ok` folds exactly the five rules above. All
    ratios are exact rational n/m double divisions with identical
    operands on both engines, so the flag cannot straddle the oracle
    at rule boundaries. Zero shuffle: one map over the corpus.
    """
    return docs.select("doc_id", *_named(gopher_cols(text_col)))


def normalize_url(col) -> "F.Column":
    """Canonical URL form as ONE native expression chain (the C4/CCNet
    web-pipeline dedup key): lowercase scheme+host, strip userinfo and
    the scheme's default port (:80 http / :443 https), drop the
    fragment, drop tracking params (utm_*, fbclid, gclid, ref), sort
    the surviving query params, and strip a trailing slash from
    non-root paths. Pure map — usable as a dedup key at any scale.

    Deterministic and total: a string that does not parse as
    scheme://… passes through trimmed (garbage in, stable garbage
    out — never null, so downstream groupBys keep every row)."""
    c = F.trim(col)
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    after = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    authority = F.regexp_extract(after, r"^([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(authority, r"^[^@]*@", ""))
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, r":80$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, r":443$", ""),
    ).otherwise(host)
    rest = F.regexp_replace(after, r"^[^/?#]*", "")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.regexp_replace(path, r"/+$", ""),
    ).otherwise(path)
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0)
            & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid|ref)(=|$)"),
        )
    )
    qnorm = F.concat_ws("&", kept)
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(qnorm) > 0, F.concat(F.lit("?"), qnorm)).otherwise(
            F.lit("")
        ),
    )
    return F.when(scheme == "", c).otherwise(canon)


def url_duplicates(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by canonical URL → (canonical_url, doc_ids,
    keep_doc_id): the web-corpus exact-dedup pass keyed on
    normalize_url instead of content (same page fetched under
    tracking-param/fragment/port variants collapses to one). Map-side
    normalize + one hash agg; keep = min id (deterministic)."""
    return (
        docs.select(
            id_col, normalize_url(F.col(url_col)).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )
