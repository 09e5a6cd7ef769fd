"""Corpus deduplication family — the operations a 100 TB training-data
pipeline runs before anything else. All variants are shuffle-frugal:

  exact          one hash-agg on a 128-bit content hash (md5 of normalized
                 text) — the partial agg folds map-side, the shuffle moves
                 only (hash, count) pairs;
  minhash-LSH    word-shingle MinHash → banded equi-join (same machinery as
                 entity linking, generalized to any (id, shingles) input);
  simhash        64-bit sign-of-weighted-sum sketch, computed as one
                 map-side projection (per-bit array folds over the token
                 hashes — zero shuffle); near-dup candidates via
                 (max_hamming + 1)-band equality — pigeonhole: ≤ max_hamming
                 differing bits across > max_hamming bands leaves ≥ 1 band
                 identical, so recall is GUARANTEED, then verified by exact
                 hamming on the bit vectors;
  ngram-jaccard  exact Jaccard over word n-gram sets via an inverted-index
                 self-join (explode gram → equi-join → count) — quadratic
                 only within identical-gram groups, the classic exact
                 similarity-join plan;
  embedding      cosine near-dups, brute-force (oracle-checkable).

The reference repo has no dedup (SURVEY §2 end-note); these follow the
standard MinHash/SimHash constructions (Broder 1997; Charikar 2002).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_text, tokens, word_ngrams
from .linking import band_keys

# --------------------------------------------------------------- exact dedup


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (content_hash, n_docs, keep_doc_id, doc_ids) for groups of ≥2.

    keep_doc_id = min doc_id (deterministic survivor)."""
    h = F.md5(normalized_text(F.col(text_col))).alias("content_hash")
    return (
        docs.select(h, "doc_id")
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def distinct_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Survivor set after exact dedup: min doc_id per content hash."""
    h = F.md5(normalized_text(F.col(text_col))).alias("content_hash")
    keep = (
        docs.select(h, "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return docs.join(keep.select("doc_id"), "doc_id", "inner")


# ----------------------------------------------- bloom incremental exact


def bloom_params(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """Optimal (m_bits, k) for a Bloom filter over n_items at the target
    false-positive rate: m = -n ln p / ln(2)^2, k = (m/n) ln 2 (standard
    sizing). m is rounded up to a multiple of 64 so the bitmap packs
    into whole int64 words."""
    import math

    n = max(1, n_items)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round((m / n) * math.log(2)))
    return m, k


def _bloom_key(text_col: str) -> Column:
    # the SAME content key as exact_duplicates/distinct_docs, so bloom
    # membership is exactly "this text is an exact duplicate"
    return F.md5(normalized_text(F.col(text_col)))


def _bloom_idx_expr(key: str, m_bits: int, k: int) -> str:
    # k independent hashes from one 64-bit mix: xxhash64(key, i) folds
    # the salt into the hash JVM-side; pmod keeps ANSI mode happy on
    # negative hashes. Indices stay < m_bits so the div-64 word lookup
    # below can never go out of bounds.
    return (
        f"transform(sequence(0, {k - 1}),"
        f" i -> pmod(xxhash64({key}, i), {m_bits}L))"
    )


def build_exact_bloom(
    docs: DataFrame,
    text_col: str = "text",
    fpr: float = 0.01,
    n_items: int | None = None,
) -> dict:
    """Build a driver-sized Bloom filter over the corpus' exact-dedup
    content hashes → {"words": [int64]*m/64, "m_bits", "k", "n_items"}.

    The 100 TB shape of INCREMENTAL exact dedup: the corpus is folded
    ONCE into a bitmap of ~10 bits/doc (1.2 MB per million docs at 1%
    fpr) that every later ingest shard probes MAP-SIDE — no shuffle of
    either side. False negatives are impossible (every corpus key sets
    all k of its bits), so `bloom_probe`'s maybe_dup=false rows are
    PROVABLY new and skip the verification join entirely; only the
    maybe_dup sliver (true dups + ~fpr of the rest) pays the exact
    anti-join in exact_dedup_against_bloom.

    Build plan: one map-side projection (k bit indices per doc), one
    combining groupBy(word) bit_or — the shuffle moves at most m/64
    (word, bits) rows regardless of corpus size. The collected bitmap
    is O(m) driver bytes by design (it IS the broadcastable sketch).
    """
    if n_items is None:
        n_items = docs.count()
    m_bits, k = bloom_params(n_items, fpr)
    keyed = docs.select(_bloom_key(text_col).alias("h"))
    idxs = keyed.select(
        F.explode(F.expr(_bloom_idx_expr("h", m_bits, k))).alias("idx")
    )
    words = (
        idxs.select(
            F.expr("cast(idx div 64 as int)").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(idx % 64 as int))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for row in words:
        arr[row["word_idx"]] = row["bits"]
    return {"words": arr, "m_bits": m_bits, "k": k, "n_items": n_items}


def bloom_probe(
    new_docs: DataFrame, bloom: dict, text_col: str = "text"
) -> DataFrame:
    """Tag a new ingest shard against a corpus Bloom filter
    (build_exact_bloom): adds `maybe_dup` — false ⇒ PROVABLY not an
    exact duplicate of any corpus doc; true ⇒ duplicate OR false
    positive at the built fpr.

    Pure map: the bitmap rides as a ONE-ROW BROADCAST-joined array
    column (big constant arrays as expression literals re-evaluate per
    element access inside HOF lambdas — measured 16x on a SQL PQ
    encode), and the k probes are a forall over element_at word
    lookups. Zero shuffle, zero corpus I/O."""
    m_bits, k = bloom["m_bits"], bloom["k"]
    spark = new_docs.sparkSession
    bloom_df = spark.createDataFrame(
        [(bloom["words"],)], "bloom_bits array<bigint>"
    )
    test = F.expr(
        f"forall({_bloom_idx_expr('_bloom_key', m_bits, k)},"
        " idx -> (element_at(bloom_bits, cast(idx div 64 as int) + 1)"
        " & shiftleft(cast(1 as bigint), cast(idx % 64 as int))) != 0)"
    )
    return (
        new_docs.withColumn("_bloom_key", _bloom_key(text_col))
        .join(F.broadcast(bloom_df))
        .withColumn("maybe_dup", test)
        .drop("_bloom_key", "bloom_bits")
    )


def exact_dedup_against_bloom(
    new_docs: DataFrame,
    corpus_hashes: DataFrame,
    bloom: dict,
    text_col: str = "text",
) -> DataFrame:
    """Exact incremental dedup of a new shard against a corpus:
    keep only rows whose text is NOT already in the corpus. Result is
    EXACT (identical to a plain anti-join on the content hash — parity
    pinned in tests); the bloom only shrinks the join input.

    `corpus_hashes` is a (content_hash) DataFrame; only the maybe_dup
    sliver of the shard is joined against it. The maybe_dup=false
    majority of a mostly-novel shard never touches the corpus at all —
    that asymmetry is the entire point of the bloom pre-filter."""
    probed = bloom_probe(new_docs, bloom, text_col)
    fresh = probed.where(~F.col("maybe_dup")).drop("maybe_dup")
    suspects = (
        probed.where(F.col("maybe_dup"))
        .drop("maybe_dup")
        .withColumn("content_hash", _bloom_key(text_col))
    )
    survivors = suspects.join(
        corpus_hashes, "content_hash", "left_anti"
    ).drop("content_hash")
    return fresh.unionByName(survivors)


# ------------------------------------------------------------- minhash/LSH


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingles: distinct word n-grams of the lowercased text)."""
    return docs.select(
        "doc_id",
        F.array_distinct(
            word_ngrams(tokens(F.lower(F.col(text_col))), n)
        ).alias("shingles"),
    )


def minhash_sigs(
    with_shingles: DataFrame,
    id_col: str = "doc_id",
    n_perms: int = 64,
    seed: int = 7,
) -> DataFrame:
    """(id, sig array<bigint>) as a pure map-side array expression —
    zero shuffle (linking._base_hashes + linking.minhash_sig_expr;
    identical values to the old explode → 64-min-aggregates shape, which
    shuffled every (id, shingle) row). Docs with no shingles get an
    empty-sentinel single shingle."""
    from .linking import _base_hashes, minhash_sig_expr

    padded = F.when(F.size("shingles") > 0, F.col("shingles")).otherwise(
        F.array(F.lit("\x00empty"))
    )
    with_h = with_shingles.select(id_col, _base_hashes(padded, seed).alias("_hs"))
    return with_h.select(
        id_col, minhash_sig_expr("_hs", n_perms, seed).alias("sig")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    n_perms: int = 64,
    n_bands: int = 16,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """→ verified near-dup pairs (doc_a, doc_b, jaccard), doc_a < doc_b.

    `max_bucket_size` caps LSH bucket fan-out (see
    linking.candidate_pairs) — boilerplate-heavy corpora otherwise explode
    the band self-join quadratically."""
    from .linking import lsh_bucket_pairs

    # empty shingle sets cannot be near-dups of anything (their Jaccard
    # with any doc is 0/undefined), but they ALL share the padded
    # signature, bucket together, and divide 0/0 in the verify (ANSI
    # throws) — surfaced by line-dedup'd corpora where a doc's every
    # line was boilerplate. Drop them before banding.
    sh = doc_shingles(docs, text_col, shingle_n).where(
        F.size("shingles") > 0
    )
    sigs = minhash_sigs(sh, "doc_id", n_perms)
    banded = sigs.select(
        "doc_id",
        F.posexplode(band_keys(n_bands, n_perms // n_bands)).alias(
            "band", "bh"
        ),
    )
    # bucketed intra-group pair expansion (see linking.lsh_bucket_pairs):
    # two exchanges, bucket cap integrated, never materializes the
    # multi-band collision multiset a self-join would
    pairs = lsh_bucket_pairs(
        banded, "doc_id", ("band", "bh"), max_bucket_size
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------------ simhash


def portable_token_hash(tok):
    """60-bit token hash computable IDENTICALLY in Spark and DuckDB:
    first 15 hex chars of md5 → base-16 → int64 (value-parity verified —
    `('0x' || substr(md5(t),1,15))::bigint` on the DuckDB side). Slower
    than xxhash64; exists so sketch queries can be oracle-checked
    cross-engine, not for the scale path."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash_bits(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    hash_fn=None,
) -> DataFrame:
    """(doc_id, bits: array<int>[bits]) — Charikar sign-sketch over token
    hashes, as ONE map-side projection: token hashes computed once per
    row, then per bit an array fold summing ±1 and a sign threshold.
    Zero shuffle (the former explode → 64-sum groupBy moved every
    (doc, token) row through an exchange; same lesson as the MinHash
    signatures). Token MULTIPLICITY is preserved — duplicates weight the
    sketch exactly as the exploded sum did.

    hash_fn: token Column → int64 hash Column; default xxhash64. Pass
    portable_token_hash (with bits ≤ 60) for a sketch DuckDB can
    reproduce bit-for-bit."""
    if hash_fn is None:
        # explicit 1-arg lambda: F.transform would hand a bare *cols
        # builtin TWO args (element, index) and silently hash the index
        def hash_fn(t):
            return F.xxhash64(t)

    hs = F.transform(tokens(F.lower(F.col(text_col))), hash_fn)
    def bit(i: int):
        total = F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        )
        return F.when(total > 0, 1).otherwise(0)
    with_h = docs.select("doc_id", hs.alias("_hs")).where(F.size("_hs") > 0)
    return with_h.select(
        "doc_id", F.array(*[bit(i) for i in range(bits)]).alias("bits")
    )


def _band_slices(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Contiguous (start, length) chunks covering [0, bits), sizes as equal
    as possible. Bands need not be equal-sized for the pigeonhole bound."""
    base, extra = divmod(bits, n_bands)
    slices, start = [], 0
    for b in range(n_bands):
        length = base + (1 if b < extra else 0)
        slices.append((start, length))
        start += length
    return slices


def simhash_candidates(
    with_bits: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    n_bands: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_id, bits) → verified pairs (doc_a, doc_b, hamming ≤ max_hamming).

    Pigeonhole blocking with a GUARANTEE: n_bands defaults to
    max_hamming + 1, so any pair within max_hamming differing bits has at
    least one band with zero differences → exact band-hash match →
    candidate. (r01 used a fixed 4 bands with max_hamming=8 — pairs at
    hamming 4–8 were found only by luck.) Caller-supplied n_bands below
    the bound is rejected rather than silently lossy.

    max_bucket_size caps the per-band bucket self-join: band hashes are
    only ~bits/(max_hamming+1) bits wide, so on large or low-entropy
    corpora a band bucket can hold a huge doc set and the intra-bucket
    pair expansion degenerates toward O(N²). None (default) keeps the
    pigeonhole recall GUARANTEE exact — a cap trades it away: pairs
    whose every zero-diff band landed in a dropped bucket are missed
    (at 10^12-doc scale the cap is mandatory; dropped-bucket stats
    should be monitored instead of assumed zero)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} breaks the pigeonhole recall guarantee for "
            f"max_hamming={max_hamming}; need n_bands >= max_hamming + 1"
        )
    if n_bands > bits:
        raise ValueError(f"n_bands={n_bands} exceeds bits={bits}")
    from .linking import lsh_bucket_pairs

    with_bits = with_bits.localCheckpoint()  # pair source + two bit joins
    banded = with_bits.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        F.concat_ws(
                            "",
                            *[
                                F.element_at("bits", start + r + 1)
                                for r in range(length)
                            ],
                        ),
                    )
                    for b, (start, length) in enumerate(
                        _band_slices(bits, n_bands)
                    )
                ]
            )
        ).alias("band", "bh"),
    )
    # bucketed intra-group pair expansion (see linking.lsh_bucket_pairs);
    # bit vectors are re-joined afterwards so the bucket lists stay
    # 8-bytes-per-id instead of carrying 64-int arrays
    cand = lsh_bucket_pairs(
        banded, "doc_id", ("band", "bh"), max_bucket_size
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    bits_tbl = with_bits.select("doc_id", "bits")
    cand = cand.join(
        bits_tbl.select(
            F.col("doc_id").alias("doc_a"), F.col("bits").alias("bits_a")
        ),
        "doc_a",
    ).join(
        bits_tbl.select(
            F.col("doc_id").alias("doc_b"), F.col("bits").alias("bits_b")
        ),
        "doc_b",
    )
    hamming = F.size(
        F.filter(
            F.zip_with("bits_a", "bits_b", lambda a, b: a != b),
            lambda x: x,
        )
    )
    return cand.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    ).select("doc_a", "doc_b", "hamming")


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    n_bands: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dups by simhash hamming distance ≤ max_hamming; banding via
    simhash_candidates (n_bands auto-sized to max_hamming + 1 so the
    pigeonhole recall guarantee always holds; max_bucket_size caps the
    band self-join at the cost of that guarantee — see
    simhash_candidates)."""
    sh = simhash_bits(docs, text_col, bits)
    return simhash_candidates(sh, max_hamming, bits, n_bands, max_bucket_size)


# ------------------------------------------------------- exact ngram jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity join via inverted index (no sketching).

    explode distinct grams → equi-join on gram → |A∩B| by count →
    |A∪B| = |A| + |B| − |A∩B|. The gram join is the only shuffle; skewed
    ultra-common grams are the known hazard — at scale, drop grams with
    document frequency above a cap first (df-capping), which only REMOVES
    candidate mass below threshold. Here the cap is off by default.
    """
    sh = doc_shingles(docs, text_col, n).where(F.size("shingles") > 0)
    sizes = sh.select("doc_id", F.size("shingles").alias("n_grams"))
    # invert on xxhash64(gram), not the gram string: the gram join is the
    # operator's only big shuffle and n-word shingles are ~10× wider than
    # an int64 key; per-doc shingles are already distinct so hashing
    # preserves the per-doc gram multiset (cross-gram collisions are the
    # usual ~n²/2^64 and deterministic — the oracle query stays exact)
    inv = sh.select(
        "doc_id",
        F.explode(
            F.transform("shingles", lambda g: F.xxhash64(g))
        ).alias("gram"),
    )
    if max_doc_freq is not None:
        # df-capping: a gram in > max_doc_freq docs generates O(df²) join
        # rows while its Jaccard contribution is spread so thin that the
        # pairs it ALONE proposes sit far below any useful threshold —
        # NOTE this changes exact intersection counts for pairs that also
        # share rare grams, so it is opt-in (the oracle-checked query
        # leaves it off; at 10^12 scale it is mandatory)
        rare = (
            inv.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select("gram")
        )
        inv = inv.join(rare, "gram")
    inter = (
        inv.alias("l")
        .join(inv.alias("r"), "gram")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------ embedding dedup


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def unit_vector(col) -> Column:
    """float32 array → double unit vector. The cast happens BEFORE any
    arithmetic so all products/sums run in double — bit-parity with engines
    (DuckDB) that compute list similarity in double."""
    d = as_double(col)
    return F.transform(d, lambda x: x / F.sqrt(_dot(d, d)))


def embedding_near_duplicates_bruteforce(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Exact cosine near-dup pairs — O(n²); the small-scale oracle path.
    Vectors pre-normalized once (n× not n²× sqrt work)."""
    e = embeddings.select("vec_id", unit_vector("embedding").alias("unit"))
    l, r = e.alias("l"), e.alias("r")
    return (
        l.crossJoin(r)
        .where(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            _dot(F.col("l.unit"), F.col("r.unit")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


# ---------------------------------------------------- substring containment


def substring_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    key_tokens: int = 10,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Substring-containment dedup: (contained_id, container_id) pairs
    where one doc's NORMALIZED text is a contiguous substring of
    another's — the truncated-copy / boilerplate-wrapped shape that exact
    hashing misses entirely and shingle-Jaccard under-scores (a 50%
    truncation has Jaccard ≈ 0.5 yet is pure duplicated content; cf. the
    motivation for suffix-array dedup in Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the full suffix-array
    machinery is replaced here by a Spark-shaped bucketed candidate
    scheme).

    Candidates: two docs share a bucket when they agree on the first
    `key_tokens` tokens (catches container = contained + appended tail)
    OR the last `key_tokens` tokens (container = prepended head +
    contained). A copy wrapped on BOTH sides is out of reach of this
    scheme by design — that genuinely needs suffix-array machinery —
    and documented as such. Docs shorter than `key_tokens` tokens are
    skipped (too short to claim a meaningful containment).

    Plan shape: key building is a pure map; the candidate self-join is
    the bucket-capped int64-only equi-join shared with every other LSH
    family here (linking.lsh_bucket_pairs); normalized text is joined
    back onto the surviving candidate pairs only — full text never rides
    the self-join shuffle. Verify = native `contains` on normalized
    text; orientation (contained vs container) by (length, id).
    """
    from .linking import lsh_bucket_pairs

    norm = normalized_text(F.col(text_col))
    base = docs.select(
        "doc_id", norm.alias("_norm"), tokens(norm).alias("_toks")
    ).where(F.size("_toks") >= key_tokens)
    base = base.localCheckpoint()  # keys + 2 verify joins reuse it
    pre = F.xxhash64(F.concat_ws(" ", F.slice("_toks", 1, key_tokens)))
    suf = F.xxhash64(
        F.concat_ws(" ", F.slice("_toks", -key_tokens, key_tokens))
    )
    keyed = base.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("side"), pre.alias("key")),
                F.struct(F.lit(1).alias("side"), suf.alias("key")),
            )
        ).alias("_sk"),
    ).select("doc_id", F.col("_sk.side").alias("side"), F.col("_sk.key").alias("key"))
    pairs = lsh_bucket_pairs(
        keyed, id_col="doc_id", bucket_cols=("side", "key"),
        max_bucket_size=max_bucket_size,
    )
    texts = base.select("doc_id", "_norm", F.length("_norm").alias("_len"))
    j = (
        pairs.join(
            texts.select(
                F.col("doc_id").alias("id_a"),
                F.col("_norm").alias("na"),
                F.col("_len").alias("la"),
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("id_b"),
                F.col("_norm").alias("nb"),
                F.col("_len").alias("lb"),
            ),
            "id_b",
        )
    )
    # orient: contained = shorter text (ties → smaller id; id_a < id_b)
    a_small = (F.col("la") < F.col("lb")) | (F.col("la") == F.col("lb"))
    contained_id = F.when(a_small, F.col("id_a")).otherwise(F.col("id_b"))
    container_id = F.when(a_small, F.col("id_b")).otherwise(F.col("id_a"))
    small = F.when(a_small, F.col("na")).otherwise(F.col("nb"))
    big = F.when(a_small, F.col("nb")).otherwise(F.col("na"))
    return (
        j.where(F.contains(big, small))
        .select(
            contained_id.alias("contained_id"),
            container_id.alias("container_id"),
            F.least("la", "lb").alias("len_contained"),
            F.greatest("la", "lb").alias("len_container"),
        )
    )


# ------------------------------------------------- repeated-substring spans


def repeated_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 20,
    max_occurrences: int | None = None,
) -> DataFrame:
    """ExactSubstr-style repeated-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    k-token window whose exact token sequence occurs MORE THAN ONCE in
    the corpus (across docs or within one) is a duplicated span; all
    occurrences except the canonical first — min (doc_id, pos) — are
    marked for removal, and per doc the marked windows are merged into
    maximal cut intervals.

    The reference implementation builds a corpus-wide suffix array on
    one machine; the Spark shape replaces it with the distributable
    equivalent over fixed-width windows:

     1. narrow map: per doc, hash every k-token window of the
        NORMALIZED token stream (xxhash64 of the space-joined slice —
        an O(n·k) slice-and-concat; a Rabin-Karp rolling hash would
        make it O(n) but k·n is already linear in output size);
     2. groupBy(window hash) with map-side partial count + min(struct
        (doc_id, pos)) — one int64-keyed shuffle;
     3. keep hashes with count ≥ 2 ONLY, then inner-join back onto the
        window stream: non-repeated windows (the vast majority) never
        ride the second shuffle, which bounds the join to genuine
        repeat families; `max_occurrences` additionally drops
        mega-boilerplate families (opt-in, same recall argument as the
        LSH bucket cap);
     4. per-doc gaps-and-islands merge of surviving [pos, pos+k)
        windows under a doc_id-partitioned window — the final groupBy
        (doc_id, island) reuses the window's hash partitioning, so the
        merge costs ONE shuffle total.

    Output: (doc_id, tok_start, tok_end, n_windows) with [tok_start,
    tok_end) a 0-based token interval to cut; n_windows = merged window
    count (cut length = tok_end - tok_start).
    """
    from pyspark.sql import Window

    norm = normalized_text(F.col(text_col))
    base = docs.select("doc_id", tokens(norm).alias("_toks")).where(
        F.size("_toks") >= k
    )
    wins = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - k + 1),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice("_toks", i, k))
                ),
            )
        ).alias("pos", "h"),
    )
    grouped = wins.groupBy("h").agg(
        F.count(F.lit(1)).alias("_occ"),
        F.min(F.struct("doc_id", "pos")).alias("_first"),
    )
    repeated = grouped.where(F.col("_occ") >= 2)
    if max_occurrences is not None:
        repeated = repeated.where(F.col("_occ") <= max_occurrences)
    cut = wins.join(repeated, "h").where(
        F.struct("doc_id", "pos") != F.col("_first")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = cut.select(
        "doc_id",
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("_new"),
    )
    islands = flagged.withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc_id", "_island").agg(
        F.min("pos").alias("tok_start"),
        (F.max("pos") + k).alias("tok_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select("doc_id", "tok_start", "tok_end", "n_windows")


# ------------------------------------------------- cross-doc line dedup


# Most drop-line hashes drop_common_lines probes as one broadcast array;
# above it (or at a bound of 0) the rewrite joins on the line hash.
BROADCAST_DROP_MAX = 8192


def _drop_lines_broadcast(
    docs: DataFrame, drop_hashes: DataFrame, text_col: str
) -> DataFrame:
    """Rewrite `docs` removing every line whose trim-hash appears in
    `drop_hashes` (a (_h, …) DataFrame): the hashes fold into ONE
    sorted-array row (no driver collect) that rides a broadcast
    crossJoin, so the rewrite is a pure map — zero shuffle on the
    corpus side."""
    other = [c for c in docs.columns if c != text_col]
    parts = F.split(F.col(text_col), "\n")
    norm_lines = F.filter(
        F.transform(parts, lambda l: F.trim(l)), lambda t: t != F.lit("")
    )
    drop_row = drop_hashes.agg(
        F.coalesce(
            F.sort_array(F.collect_set("_h")),
            F.expr("array()").cast("array<bigint>"),
        ).alias("_drop")
    )
    kept = F.filter(
        parts,
        lambda l: (F.trim(l) == F.lit(""))
        | ~F.array_contains(F.col("_drop"), F.xxhash64(F.trim(l))),
    )
    return docs.crossJoin(F.broadcast(drop_row)).select(
        *other,
        F.array_join(kept, "\n").alias(text_col),
        F.size(norm_lines).alias("n_lines"),
        (
            F.size(norm_lines)
            - F.size(F.filter(kept, lambda l: F.trim(l) != F.lit("")))
        ).alias("n_dropped"),
    )


def drop_common_lines(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document line-level dedup (the RefinedWeb/FineWeb
    boilerplate filter; Penedo et al. 2023): a line whose trim-normalized
    content appears in >= `min_df` DISTINCT documents is removed from
    EVERY document (boilerplate-removal semantics — navigation chrome,
    cookie banners, copyright footers — not keep-one-survivor). Lines
    that trim to '' are structure, not content: never counted, never
    dropped. The reference repo has no dedup (SURVEY §2 end-note).

    Returns `docs` with `text_col` rewritten to the kept lines
    (original, untrimmed, '\\n'-joined, order preserved) plus
    (n_lines, n_dropped) — n_lines counts non-empty-trim lines.

    Plan shape:
      pass 1  per-doc array_distinct of trimmed lines MAP-SIDE, explode,
              then ONE map-side-combining count on xxhash64(line) —
              count(*) == count(distinct doc) because the doc already
              deduped its own lines, so no two-phase distinct aggregate
              ships full (doc, line) multisets. The drop set is
              materialized (localCheckpoint — the small output of an
              aggregate, paid once) and counted;
      pass 2  at most `BROADCAST_DROP_MAX` hashes (boilerplate sets are
              tiny relative to any corpus): they fold into ONE
              sorted-array row (no driver collect) that rides a
              broadcast crossJoin, and the rewrite is a pure map over
              the corpus — zero shuffle on the big side;
              above it: explode lines with position, left-join the drop
              hashes on the int64 key, regroup ordered per doc — two
              shuffles of the exploded corpus, but no linear probe.
              Both sides give the same rows (pinned in tests).
    The pathological case is real, not hypothetical: a corpus with 20k
    planted exact-duplicate docs put every copied line at df=2 — an
    81k-entry drop set whose array_contains linear probe was ~500
    billion comparisons; the count caught it and the join side ran in
    seconds.

    Hashing is only a shuffle/probe-key compaction, same stance as
    repeated_ngram_spans: an xxhash64 collision could merge two distinct
    lines, vanishingly unlikely and accepted at scale.
    """
    parts = F.split(F.col(text_col), "\n")
    norm_lines = F.filter(
        F.transform(parts, lambda l: F.trim(l)), lambda t: t != F.lit("")
    )
    drop_hashes = (
        docs.select(F.explode(F.array_distinct(norm_lines)).alias("_norm"))
        .groupBy(F.xxhash64("_norm").alias("_h"))
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= min_df)
        .localCheckpoint()
    )
    n_drop = drop_hashes.count()
    if 0 < BROADCAST_DROP_MAX and n_drop <= BROADCAST_DROP_MAX:
        return _drop_lines_broadcast(docs, drop_hashes, text_col)
    other = [c for c in docs.columns if c != text_col]
    exploded = docs.select(
        id_col, F.posexplode(parts).alias("_pos", "_line")
    ).withColumn("_norm", F.trim("_line"))
    flagged = exploded.join(
        drop_hashes.select(F.col("_h"), F.lit(True).alias("_d")),
        F.xxhash64("_norm") == F.col("_h"),
        "left",
    ).withColumn(
        "_keep", (F.col("_norm") == "") | F.col("_d").isNull()
    )
    stats = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_pos", "_line"))
                    )
                ),
                lambda s: s.getField("_line"),
            ),
            "\n",
        ).alias("_text"),
        F.count(F.when(F.col("_norm") != "", True)).alias("n_lines"),
        F.count(
            F.when((F.col("_norm") != "") & ~F.col("_keep"), True)
        ).alias("n_dropped"),
    )
    # left join + int counts: NULL-text docs and types as on broadcast
    return docs.drop(text_col).join(stats, id_col, "left").select(
        *other,
        F.col("_text").alias(text_col),
        F.col("n_lines").cast("int"),
        F.col("n_dropped").cast("int"),
    )


# ---------------------------------------------------------- semantic dedup


def semantic_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    kmeans_iter: int = 4,
    seed: int = 5,
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) candidate pairs: k-means partitions
    the corpus, exact cosine is computed only WITHIN clusters — the
    pair join is an equi-join on `cluster`, O(Σ cᵢ²) instead of O(n²),
    and each cluster's pairs land in one shuffle partition (the scale
    knob is n_clusters, exactly the paper's recipe). max_cluster_size
    drops degenerate clusters from the pair join (same safety cap as
    the LSH band buckets — a templated-content mega-cluster would
    otherwise explode quadratically).

    Returns (cluster, vec_a, vec_b, cos ≥ threshold). Recall is scoped
    to within-cluster pairs by construction; near-identical texts land
    in the same Voronoi cell (pytest pins ≥90% recall on planted
    twins vs the brute-force oracle)."""
    from .similarity import kmeans

    assigned, _cents, _ = kmeans(
        embeddings, k=n_clusters, max_iter=kmeans_iter, seed=seed
    )
    e = assigned.join(
        embeddings.select("vec_id", unit_vector("embedding").alias("unit")),
        "vec_id",
    ).select("cluster", "vec_id", "dist2", "unit")
    e = e.localCheckpoint()  # pair source is scanned from both sides
    if max_cluster_size is not None:
        sizes = e.groupBy("cluster").count()
        e = e.join(
            F.broadcast(sizes.where(F.col("count") <= max_cluster_size)),
            "cluster",
        ).drop("count")
    a = e.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("unit").alias("ua"),
    )
    b = e.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("unit").alias("ub"),
    )
    return (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", _dot("ua", "ub"))
        .where(F.col("cos") >= threshold)
        .select("cluster", "vec_a", "vec_b", "cos")
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    portable: bool = True,
) -> DataFrame:
    """MOSS winnowing fingerprints → (doc_id, pos, fp): from the
    rolling k-token gram hashes, each length-`window` window selects
    its minimum hash (RIGHTMOST occurrence on ties — the canonical
    winnowing tie rule), and selections collapse to a distinct
    (position, hash) set. Guarantee (Schleimer/Wilkerson/Aiken 2003):
    any shared token run of ≥ window+k−1 tokens between two documents
    yields at least one shared fingerprint — the partial-overlap
    detector sitting between whole-doc hashing (`exact_duplicates`) and
    full ExactSubstr spans (`repeated_ngram_spans`), at a stored cost
    of ~2/(window+1) fingerprints per token.

    Pure map: tokens → positional k-grams → hash array → one
    `transform` over window starts (array_min + reverse/array_position
    for the rightmost-tie pick) → array_distinct → explode. Zero
    shuffles; joining fingerprints to find overlapping docs is the
    same int64 equi-join as every LSH family here. `portable=True`
    hashes via the md5 scheme DuckDB can replay bit-for-bit (the
    oracle path); False uses xxhash64 (the scale path, same plan
    shape).
    """
    if window < 1 or k < 1:
        raise ValueError("k and window must be >= 1")
    norm = normalized_text(F.col(text_col))
    grams = word_ngrams(tokens(norm), k)
    h = portable_token_hash if portable else F.xxhash64
    hs = F.transform(grams, lambda g: h(g))
    n_win = F.size(hs) - (window - 1)
    sel = F.when(
        n_win >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.struct(
                    (
                        i
                        - 1
                        + (
                            F.lit(window)
                            - F.array_position(
                                F.reverse(F.slice(hs, i, window)),
                                F.array_min(F.slice(hs, i, window)),
                            )
                        )
                    ).cast("long").alias("pos"),
                    F.array_min(F.slice(hs, i, window)).alias("fp"),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,fp:bigint>>"))
    return (
        docs.select("doc_id", F.explode(sel).alias("_s"))
        .select(
            "doc_id",
            F.col("_s.pos").alias("pos"),
            F.col("_s.fp").alias("fp"),
        )
    )
