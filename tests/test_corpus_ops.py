"""Corpus operators (dedup / similarity / textstats / multimodal) vs
DuckDB and brute-force Python oracles on the driver-provided testdata."""

import itertools
import re

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def embeddings(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    e.count()
    return e


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{SF_DIR}/documents.parquet'"
    )
    con.execute(
        f"create view embeddings as select * from '{SF_DIR}/embeddings.parquet'"
    )
    return con


# ------------------------------------------------------------------- dedup


def test_exact_duplicates(spark, docs):
    from gliner_spark.operators.dedup import distinct_docs, exact_duplicates

    base = docs.limit(20)
    dup = base.union(base.withColumn("doc_id", F.col("doc_id") + 10_000))
    groups = exact_duplicates(dup).collect()
    assert len(groups) == 20
    assert all(g.n_docs == 2 and g.keep_doc_id == min(g.doc_ids) for g in groups)
    assert distinct_docs(dup).count() == 20


def test_bloom_params_sizing():
    from gliner_spark.operators.dedup import bloom_params

    m, k = bloom_params(1_000_000, fpr=0.01)
    assert m % 64 == 0
    assert 9.0 <= m / 1_000_000 <= 10.5  # ~9.585 bits/item at 1%
    assert 6 <= k <= 8  # ~6.64 optimal
    m1, k1 = bloom_params(0)
    assert m1 >= 64 and k1 >= 1


def test_bloom_no_false_negatives_and_anti_join_parity(spark, docs):
    from gliner_spark.operators.dedup import (
        build_exact_bloom,
        bloom_probe,
        exact_dedup_against_bloom,
    )
    from gliner_spark.functions.text import normalized_text

    corpus = docs.limit(30).cache()
    dups = (
        corpus.limit(15)
        .withColumn("doc_id", F.col("doc_id") + 50_000)
    )
    novel = corpus.select(
        (F.col("doc_id") + 90_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq-novel-suffix")).alias("text"),
        *[c for c in corpus.columns if c not in ("doc_id", "text")],
    )
    shard = dups.unionByName(novel.select(dups.columns))
    bloom = build_exact_bloom(corpus)

    probed = {r.doc_id: r.maybe_dup for r in bloom_probe(shard, bloom).collect()}
    # every true duplicate MUST probe true — false negatives impossible
    for r in dups.select("doc_id").collect():
        assert probed[r.doc_id] is True

    got = {r.doc_id for r in exact_dedup_against_bloom(
        shard,
        corpus.select(F.md5(normalized_text(F.col("text"))).alias("content_hash")),
        bloom,
    ).collect()}
    want = {
        r.doc_id
        for r in shard.withColumn(
            "content_hash", F.md5(normalized_text(F.col("text")))
        ).join(
            corpus.select(
                F.md5(normalized_text(F.col("text"))).alias("content_hash")
            ),
            "content_hash",
            "left_anti",
        ).collect()
    }
    assert got == want  # exact parity with the plain anti-join
    assert got == {r.doc_id for r in novel.select("doc_id").collect()}


def test_bloom_fpr_bounded(spark, docs):
    from gliner_spark.operators.dedup import build_exact_bloom, bloom_probe

    bloom = build_exact_bloom(docs, fpr=0.02)
    n_probe = 5000
    fresh = spark.range(n_probe).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("synthetic probe text nr "), F.col("id")).alias("text"),
    )
    hits = (
        bloom_probe(fresh, bloom)
        .where(F.col("maybe_dup"))
        .count()
    )
    # none of these texts is in the corpus, so every hit is a false
    # positive; allow 4x the target rate for sampling noise
    assert hits / n_probe <= 0.08


def test_minhash_near_duplicates_find_identical(spark, docs):
    from gliner_spark.operators.dedup import minhash_near_duplicates

    base = docs.limit(15)
    dup = base.union(base.withColumn("doc_id", F.col("doc_id") + 10_000))
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in minhash_near_duplicates(dup, jaccard_threshold=0.99).collect()}
    for i in [r.doc_id for r in base.collect()]:
        assert pairs.get((i, i + 10_000)) == 1.0


def test_ngram_jaccard_vs_bruteforce(spark, docs):
    from gliner_spark.operators.dedup import ngram_jaccard_pairs

    rows = docs.limit(25).collect()
    pat = re.compile(r"\w+(?:[-_]\w+)*|\S")

    def grams(t, n=3):
        toks = pat.findall(t.lower())
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    expected = {}
    for a, b in itertools.combinations(rows, 2):
        ga, gb = grams(a.text), grams(b.text)
        if not ga or not gb:
            continue
        j = len(ga & gb) / len(ga | gb)
        lo, hi = sorted([a.doc_id, b.doc_id])
        if j >= 0.05:
            expected[(lo, hi)] = j

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(
               spark.createDataFrame(rows), threshold=0.05).collect()}
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9


def test_simhash_identical_and_near(spark, docs):
    from gliner_spark.operators.dedup import simhash_near_duplicates

    base = docs.limit(10)
    dup = base.union(base.withColumn("doc_id", F.col("doc_id") + 10_000))
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_near_duplicates(dup, max_hamming=3).collect()}
    for i in [r.doc_id for r in base.collect()]:
        assert pairs.get((i, i + 10_000)) == 0


def test_embedding_near_dup_bruteforce_vs_duckdb(spark, embeddings, ddb):
    from gliner_spark.operators.dedup import embedding_near_duplicates_bruteforce

    got = {(r.vec_a, r.vec_b): r.cos
           for r in embedding_near_duplicates_bruteforce(
               embeddings, threshold=0.5).collect()}
    exp = {(a, b): c for (a, b, c) in ddb.execute(
        """
        select a.vec_id, b.vec_id,
               list_cosine_similarity(a.embedding, b.embedding) c
        from embeddings a join embeddings b on a.vec_id < b.vec_id
        """
    ).fetchall() if c >= 0.5}
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) < 1e-6


# -------------------------------------------------------------- similarity


def test_knn_bruteforce_vs_duckdb(spark, embeddings, ddb):
    from gliner_spark.operators.similarity import knn_bruteforce

    queries = embeddings.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in knn_bruteforce(embeddings, queries, k=3).collect()
    )
    exp = sorted(
        ddb.execute(
            """
            select query_id, rank, vec_id from (
              select q.vec_id query_id, e.vec_id vec_id,
                     row_number() over (
                       partition by q.vec_id
                       order by round(list_cosine_similarity(
                         list_transform(e.embedding, x -> x /
                           sqrt(list_sum(list_transform(e.embedding, y -> y*y)))),
                         list_transform(q.embedding, x -> x /
                           sqrt(list_sum(list_transform(q.embedding, y -> y*y))))
                       ), 6) desc, e.vec_id asc) rank
              from embeddings e, embeddings q where q.vec_id < 5)
            where rank <= 3
            """
        ).fetchall()
    )
    assert got == exp


def test_knn_ivf_full_probe_equals_bruteforce(spark, embeddings):
    from gliner_spark.operators.similarity import knn_bruteforce, knn_ivf

    queries = embeddings.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sorted(map(tuple, knn_bruteforce(embeddings, queries, k=3).collect()))
    full = sorted(map(tuple, knn_ivf(
        embeddings, queries, k=3, n_cells=8, n_probe=8).collect()))
    assert exact == full


def test_knn_ivf_partial_probe_recall(spark, embeddings):
    from gliner_spark.operators.similarity import knn_bruteforce, knn_ivf

    queries = embeddings.where("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id)
             for r in knn_bruteforce(embeddings, queries, k=3).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in knn_ivf(embeddings, queries, k=3,
                               n_cells=8, n_probe=4).collect()}
    assert len(exact & approx) / len(exact) >= 0.5


# --------------------------------------------------------------- textstats


def test_token_stats_vs_python(spark, docs):
    from gliner_spark.operators.textstats import token_stats

    pat = re.compile(r"\w+(?:[-_]\w+)*|\S")
    rows = docs.limit(30).collect()
    got = {r.doc_id: r for r in token_stats(
        spark.createDataFrame(rows)).collect()}
    for r in rows:
        toks = pat.findall(r.text)
        g = got[r.doc_id]
        assert g.n_tokens == len(toks)
        assert g.n_unique_tokens == len({t.lower() for t in toks})
        assert abs(g.avg_token_len -
                   round(sum(map(len, toks)) / max(len(toks), 1), 6)) < 1e-9


def test_quality_scores_bounds(spark, docs):
    from gliner_spark.operators.textstats import quality_scores

    for r in quality_scores(docs).collect():
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0


def test_blocklist_stats_vs_python(spark):
    import re

    from gliner_spark.operators.textstats import blocklist_stats

    terms = ["Bad", "awful"]  # mixed case in: lowercased inside
    rows = [
        (1, "this is bad truly BAD and awful stuff"),
        (2, "perfectly fine text here"),
        (3, "bad-ish compound but bad alone too"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    pat = re.compile(r"\w+(?:[-_]\w+)*|\S")  # mirrors functions.text.tokens
    block = {t.lower() for t in terms}

    def oracle(text):
        toks = [t.lower() for t in pat.findall(text)]
        hits = [t for t in toks if t in block]
        frac = round(len(hits) / len(toks), 6) if toks else 0.0
        return (len(toks), len(hits), len(set(hits)), frac)

    want = {i: oracle(t) for i, t in rows}
    got = {
        r.doc_id: (r.n_tokens, r.n_hits, r.n_distinct_hits, r.hit_frac)
        for r in blocklist_stats(docs, terms).collect()
    }
    assert got == want
    # the >64-term one-row-broadcast path is value-identical
    big = terms + [f"zzfiller{i}" for i in range(70)]
    got_b = {
        r.doc_id: (r.n_tokens, r.n_hits, r.n_distinct_hits, r.hit_frac)
        for r in blocklist_stats(docs, big).collect()
    }
    assert got_b == want


def test_language_id_accuracy(spark, docs):
    """Marker heuristic should beat chance on the synthetic corpus."""
    from gliner_spark.operators.textstats import language_id

    pred = language_id(docs).select("doc_id", "pred_lang")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    n = joined.count()
    # the synthetic corpus is English-ish filler for all langs; just check
    # determinism + total coverage + valid codes
    codes = {r.pred_lang for r in pred.collect()}
    assert codes <= {"en", "de", "fr", "es", "zh", "und"}
    assert pred.count() == n


# -------------------------------------------------------------- multimodal


def test_multimodal_fake_features_deterministic(spark):
    from gliner_spark.operators.multimodal import extract_features, synth_assets

    assets = synth_assets(spark, 50)
    f1 = sorted(map(tuple, extract_features(assets).collect()))
    f2 = sorted(map(tuple, extract_features(synth_assets(spark, 50)).collect()))
    assert f1 == f2
    assert len(f1) == 50
    assert all(len(r[-1]) == 16 for r in f1)
    assert all(r[2] == 64 for r in f1)  # 64-byte arithmetic payloads


def test_multimodal_real_decoder_is_stubbed(spark):
    from gliner_spark.operators.multimodal import extract_features, synth_assets
    from py4j.protocol import Py4JJavaError

    assets = synth_assets(spark, 5)
    with pytest.raises(Exception) as ei:
        extract_features(assets, decoder="real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_plan(spark):
    from gliner_spark.operators.multimodal import frame_sample_plan, synth_assets

    assets = synth_assets(spark, 60)
    plan = frame_sample_plan(assets, every_n=10)
    rows = plan.collect()
    assert len(rows) > 0
    assert all(r.frame_idx % 10 == 0 for r in rows)
    kinds = {r.kind for r in assets.collect()}
    assert "video" in kinds


def test_corpus_summary_sketch_accuracy(spark, docs):
    """HLL vocab estimate within rsd of the exact distinct; quantiles
    bracket the exact median."""
    import re as _re
    from gliner_spark.operators.textstats import corpus_summary

    row = corpus_summary(docs, rsd=0.02).collect()[0]
    pat = _re.compile(r"\w+(?:[-_]\w+)*|\S")
    texts = [r.text for r in docs.collect()]
    all_toks = [t for x in texts for t in pat.findall(x.lower())]
    exact_vocab = len(set(all_toks))
    assert row.n_docs == len(texts)
    assert row.total_tokens == len(all_toks)
    assert abs(row.approx_vocab - exact_vocab) / exact_vocab < 0.05
    counts = sorted(len(pat.findall(x.lower())) for x in texts)
    exact_p50 = counts[len(counts) // 2]
    assert abs(row.p50_tokens - exact_p50) <= max(2, exact_p50 * 0.05)
    assert row.p50_tokens <= row.p90_tokens <= row.p99_tokens


def test_bmp_codec_roundtrip():
    """encode_bmp → decode_bmp is the identity on pixel arrays, including
    widths that force nonzero row padding (stride % 4)."""
    import numpy as np

    from gliner_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.RandomState(7)
    for w, h in [(8, 6), (5, 3), (1, 1), (7, 2)]:  # 5,7 → padded strides
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        buf = encode_bmp(px)
        assert buf[:2] == b"BM"
        assert np.array_equal(decode_bmp(buf), px)
    # reject what the codec can't honestly parse
    with pytest.raises(ValueError, match="BM"):
        decode_bmp(b"\x89PNG----")


def test_bmp_nn_resize_known_values():
    """Nearest-neighbor semantics pinned: 2×2 → 4×4 duplicates each
    source pixel into a 2×2 block; downscale picks floor(dst·src/dst)."""
    import numpy as np

    from gliner_spark.operators.multimodal import nn_resize

    px = np.array(
        [[[1, 1, 1], [2, 2, 2]], [[3, 3, 3], [4, 4, 4]]], dtype=np.uint8
    )
    up = nn_resize(px, 4, 4)
    assert np.array_equal(up[:2, :2], np.full((2, 2, 3), 1))
    assert np.array_equal(up[:2, 2:], np.full((2, 2, 3), 2))
    assert np.array_equal(up[2:, :2], np.full((2, 2, 3), 3))
    assert np.array_equal(up[2:, 2:], np.full((2, 2, 3), 4))
    down = nn_resize(up, 2, 2)
    assert np.array_equal(down, px)


def test_wav_codec_roundtrip():
    """encode_wav → decode_wav is the identity on int16 sample arrays,
    mono and stereo; non-PCM and non-RIFF payloads are rejected loudly."""
    import numpy as np

    from gliner_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(11)
    for n, ch, sr in [(256, 1, 8000), (100, 2, 44100), (1, 1, 16000)]:
        s = rng.randint(-32768, 32768, size=(n, ch)).astype(np.int16)
        buf = encode_wav(s, sr)
        assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE"
        out, out_sr = decode_wav(buf)
        assert out_sr == sr
        assert np.array_equal(out, s)
    # mono 1-D input round-trips as (n, 1)
    mono = rng.randint(-100, 100, size=64).astype(np.int16)
    out, _ = decode_wav(encode_wav(mono, 8000))
    assert np.array_equal(out[:, 0], mono)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"ID3\x03----------------")
    # 8-bit PCM is a valid RIFF this codec must refuse, not mis-parse
    import struct

    fmt8 = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 8000, 1, 8)
    bad = (
        struct.pack("<4sI4s", b"RIFF", 4 + len(fmt8) + 12, b"WAVE")
        + fmt8
        + struct.pack("<4sI", b"data", 4)
        + b"\x01\x02\x03\x04"
    )
    with pytest.raises(ValueError, match="PCM-16"):
        decode_wav(bad)


def test_wav_resample_known_values():
    """Index-arithmetic nearest-sample semantics pinned: 4 → 8 duplicates
    each sample; 8 → 4 inverts it (floor(dst·n/n_out) pairs)."""
    import numpy as np

    from gliner_spark.operators.multimodal import resample_pcm

    s = np.array([[10], [20], [30], [40]], dtype=np.int16)
    up = resample_pcm(s, 8)
    assert np.array_equal(up[:, 0], [10, 10, 20, 20, 30, 30, 40, 40])
    assert np.array_equal(resample_pcm(up, 4), s)


def test_multimodal_wav_real_decode_e2e(spark):
    """The audio 'real decode' tier end-to-end on Spark: genuine WAV
    payloads parsed, resampled, re-encoded inside mapInPandas; output
    bytes equal the pure-numpy computation per asset, and audio_stats
    matches the analytic waveform."""
    import numpy as np

    from gliner_spark.operators.multimodal import (
        audio_stats,
        decode_wav,
        encode_wav,
        resample_audio,
        resample_pcm,
        synth_wav_assets,
        synth_wav_sample,
    )

    assets = synth_wav_assets(spark, 20, n_samples=256, sample_rate=8000)
    out = {
        r.asset_id: (bytes(r.data), r.sample_rate, r.n_samples)
        for r in resample_audio(assets, target_rate=4000).collect()
    }
    assert len(out) == 20
    for aid in (0, 7, 19):
        wave = np.array(
            [synth_wav_sample(aid, i) for i in range(256)], dtype=np.int16
        )[:, None]
        expected = encode_wav(resample_pcm(wave, 128), 4000)
        buf, sr, n = out[aid]
        assert (sr, n) == (4000, 128)
        assert buf == expected
        dec, dsr = decode_wav(buf)
        assert dsr == 4000 and dec.shape == (128, 1)
    stats = {r.asset_id: r for r in audio_stats(assets).collect()}
    wave = np.array(
        [synth_wav_sample(5, i) for i in range(256)], dtype=np.int64
    )
    r5 = stats[5]
    assert r5.sample_rate == 8000 and r5.n_samples == 256
    assert abs(r5.mean_amp - wave.sum() / 256) < 1e-9
    assert abs(r5.rms - np.sqrt((wave * wave).sum() / 256)) < 1e-9
    assert r5.min_amp == wave.min() and r5.max_amp == wave.max()
    sgn = np.sign(wave)
    nz = sgn[sgn != 0]
    assert r5.n_zero_cross == int(np.count_nonzero(np.diff(nz) != 0))


def test_multimodal_bmp_real_decode_e2e(spark):
    """The 'real decode' tier end-to-end on Spark: genuine BMP payloads
    parsed, resampled and re-encoded inside mapInPandas; output pixels
    equal the pure-numpy computation per asset."""
    import numpy as np

    from gliner_spark.operators.multimodal import (
        _synth_pixels,
        decode_bmp,
        encode_bmp,
        extract_features,
        nn_resize,
        resize_images,
        synth_bmp_assets,
    )

    assets = synth_bmp_assets(spark, 30, width=8, height=6)
    out = {
        r.asset_id: bytes(r.data)
        for r in resize_images(assets, 16, 12, decoder="bmp").collect()
    }
    assert len(out) == 30
    for aid in (0, 7, 29):
        expected = encode_bmp(
            nn_resize(_synth_pixels(aid, 8, 6, 42), 16, 12)
        )
        assert out[aid] == expected
        assert decode_bmp(out[aid]).shape == (12, 16, 3)
    feats = {
        r.asset_id: r.feature
        for r in extract_features(assets, decoder="bmp").collect()
    }
    f0 = feats[3]
    assert f0[0] == 8.0 and f0[1] == 6.0  # decoded dims, not payload len
    assert abs(sum(f0[8:16]) - 1.0) < 1e-6  # gray histogram normalized
    px = _synth_pixels(3, 8, 6, 42).astype(np.float32)
    assert abs(f0[2] - px.reshape(-1, 3).mean(axis=0)[0]) < 1e-3


def test_png_codec_roundtrip():
    """encode_png → decode_png is the identity on pixel arrays under both
    filter modes; bad signature, corrupted CRC, and unsupported color
    types are rejected loudly (a real parser, not a happy-path one)."""
    import struct
    import zlib

    import numpy as np

    from gliner_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(19)
    for w, h in [(8, 6), (1, 1), (23, 17), (1, 9), (9, 1)]:
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        for mode in ("mixed", "none"):
            buf = encode_png(px, filter_mode=mode)
            assert buf[:8] == _PNG_SIG
            assert np.array_equal(decode_png(buf), px)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"BM" + b"\x00" * 20)
    good = bytearray(encode_png(rng.randint(0, 256, (4, 4, 3), dtype=np.uint8)))
    good[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(good))
    # grayscale (color type 0) is a valid PNG this codec must refuse
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00\x01\x02" * 2)
    gray = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truecolor"):
        decode_png(gray)


def test_png_mixed_filters_cover_all_five():
    """The 'mixed' encoder genuinely writes all five scanline filter
    types (so every unfilter branch — None/Sub/Up/Average/Paeth — sits on
    the round-trip path), and PNG-decoded pixels equal BMP-decoded pixels
    for the same synthetic asset."""
    import zlib

    import numpy as np

    from gliner_spark.operators.multimodal import (
        _synth_pixels,
        decode_bmp,
        decode_png,
        encode_bmp,
        encode_png,
    )

    px = _synth_pixels(13, 8, 6, 42)
    buf = encode_png(px)
    # pull the raw filtered stream back out of the single IDAT chunk
    import struct

    pos, idat = 8, b""
    while pos + 12 <= len(buf):
        ln, ctype = struct.unpack_from(">I4s", buf, pos)
        if ctype == b"IDAT":
            idat += buf[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    ftypes = {raw[y * (1 + 8 * 3)] for y in range(6)}
    assert ftypes == {0, 1, 2, 3, 4}
    assert np.array_equal(decode_png(buf), px)
    assert np.array_equal(
        decode_png(encode_png(px)), decode_bmp(encode_bmp(px))
    )


def test_multimodal_png_real_decode_e2e(spark):
    """The PNG 'real decode' tier end-to-end on Spark: genuine PNG
    payloads parsed (CRC walk + inflate + unfilter) inside mapInPandas;
    resized outputs equal the pure-numpy computation, and image_stats
    over PNG assets equals image_stats over BMP assets (same pixels, two
    containers) and the direct numpy statistics."""
    import numpy as np

    from gliner_spark.operators.multimodal import (
        _synth_pixels,
        decode_png,
        encode_png,
        image_stats,
        nn_resize,
        resize_images,
        synth_bmp_assets,
        synth_png_assets,
    )

    assets = synth_png_assets(spark, 30, width=8, height=6)
    out = {
        r.asset_id: bytes(r.data)
        for r in resize_images(assets, 16, 12, decoder="png").collect()
    }
    assert len(out) == 30
    for aid in (0, 11, 29):
        expected = encode_png(nn_resize(_synth_pixels(aid, 8, 6, 42), 16, 12))
        assert out[aid] == expected
        assert decode_png(out[aid]).shape == (12, 16, 3)
    png_stats = {
        r.asset_id: r
        for r in image_stats(assets, decoder="png").collect()
    }
    bmp_stats = {
        r.asset_id: r
        for r in image_stats(
            synth_bmp_assets(spark, 30, width=8, height=6), decoder="bmp"
        ).collect()
    }
    assert set(png_stats) == set(bmp_stats) == set(range(30))
    for aid in range(30):
        assert png_stats[aid] == bmp_stats[aid]
    px = _synth_pixels(5, 8, 6, 42).astype(np.int64)
    r5 = png_stats[5]
    assert (r5.sum_r, r5.sum_g, r5.sum_b) == tuple(
        int(s) for s in px.reshape(-1, 3).sum(axis=0)
    )
    assert r5.mean_rgb == float(px.sum()) / px.size
    assert r5.min_rgb == int(px.sum(axis=-1).min())
    assert r5.max_rgb == int(px.sum(axis=-1).max())
    with pytest.raises(NotImplementedError):
        image_stats(assets, decoder="real")


def test_multimodal_resize_stub(spark):
    from gliner_spark.operators.multimodal import resize_images, synth_assets

    assets = synth_assets(spark, 60)
    out = resize_images(assets, width=32, height=16)
    rows = out.collect()
    n_images = assets.where("kind = 'image'").count()
    assert len(rows) == n_images > 0
    assert all(len(r.data) == 32 * 16 for r in rows)
    # deterministic across runs
    again = sorted((r.asset_id, bytes(r.data)) for r in resize_images(
        synth_assets(spark, 60), width=32, height=16).collect())
    assert sorted((r.asset_id, bytes(r.data)) for r in rows) == again
    with pytest.raises(Exception):
        resize_images(assets, decoder="real").collect()


def test_redact_pii_vs_python(spark):
    import re as _re
    from gliner_spark.operators.textstats import PII_PATTERNS, redact_pii

    samples = [
        (0, "email john.doe@example.com and jane_x@sub.domain.org"),
        (1, "call +1-555-123-4567 or (555) 987-6543"),
        (2, "host 192.168.1.100 and 10.0.0.1:8080"),
        (3, "clean text with no identifiers at all"),
        (4, "mixed: a@b.io then 555-111-2222 at 8.8.8.8 done"),
    ]
    df = spark.createDataFrame(samples, ["doc_id", "text"])
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    for i, t in samples:
        exp = t
        for pat, repl in PII_PATTERNS:
            exp = _re.sub(pat, repl, exp)
        assert got[i].redacted_text == exp, (i, got[i].redacted_text, exp)
    assert got[0].n_emails == 2 and got[1].n_phones == 2
    assert got[2].n_ips == 2 and got[3].n_emails == 0
    assert (got[4].n_emails, got[4].n_phones, got[4].n_ips) == (1, 1, 1)


def test_kmeans_recovers_separable_blobs(spark):
    import numpy as np
    from gliner_spark.operators.similarity import kmeans

    rng = np.random.RandomState(3)
    centers = np.eye(4)[:3] * 5  # 3 well-separated centers in 4-d
    rows = []
    for i in range(150):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v], c))
    df = spark.createDataFrame(
        [(i, v) for i, v, _c in rows], ["vec_id", "embedding"]
    )
    assigned, cents, inertia = kmeans(df, k=3, max_iter=10)
    got = {r.vec_id: r.cluster for r in assigned.collect()}
    # each true blob maps to exactly one k-means cluster
    for true_c in range(3):
        labels = {got[i] for i, _v, c in rows if c == true_c}
        assert len(labels) == 1, (true_c, labels)
    # the three blobs land in three distinct clusters
    assert len({next(iter({got[i] for i, _v, c in rows if c == t}))
                for t in range(3)}) == 3
    assert inertia < 1.0  # tight blobs on the unit sphere


def test_kmeans_deterministic_and_inertia_bounded(spark, embeddings):
    from gliner_spark.operators.similarity import kmeans

    a1, c1, i1 = kmeans(embeddings, k=4, max_iter=5)
    a2, c2, i2 = kmeans(embeddings, k=4, max_iter=5)
    assert c1 == c2 and i1 == i2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))
    # more clusters → no worse inertia
    _a, _c, i8 = kmeans(embeddings, k=8, max_iter=5)
    assert i8 <= i1 + 1e-9


def test_kmeans_empty_input_raises(spark):
    from gliner_spark.operators.similarity import kmeans

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-empty"):
        kmeans(empty, k=2, max_iter=1)


def test_simhash_exact_hamming_guarantee(spark):
    """Pigeonhole recall: a pair at EVERY hamming distance h ≤ max_hamming
    (including exactly max_hamming) must be found — not probabilistically,
    always. r01 used 4 fixed bands with max_hamming=8, guaranteeing only
    h ≤ 3."""
    import random

    from gliner_spark.operators.dedup import simhash_candidates

    rng = random.Random(9)
    max_h = 8
    rows, expected = [], set()
    next_id = 0
    for h in range(max_h + 1):
        base = [rng.randint(0, 1) for _ in range(64)]
        other = list(base)
        for pos in rng.sample(range(64), h):
            other[pos] ^= 1
        a, b = next_id, next_id + 1
        next_id += 2
        rows += [(a, base), (b, other)]
        expected.add((a, b, h))
    df = spark.createDataFrame(rows, ["doc_id", "bits"])
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_candidates(df, max_hamming=max_h).collect()
    }
    assert expected <= got, expected - got


def test_simhash_bucket_cap_bounds_pair_expansion(spark):
    """max_bucket_size threads through to the band self-join: a clone
    cluster of m identical sketches yields C(m,2) pairs uncapped, but a
    cap below m drops the (oversized) buckets — trading the pigeonhole
    recall guarantee for a bounded join, by explicit opt-in."""
    from gliner_spark.operators.dedup import simhash_candidates

    m = 12
    rows = [(i, [1] * 64) for i in range(m)]
    df = spark.createDataFrame(rows, ["doc_id", "bits"])
    uncapped = simhash_candidates(df, max_hamming=3).count()
    assert uncapped == m * (m - 1) // 2
    capped = simhash_candidates(df, max_hamming=3, max_bucket_size=4).count()
    assert capped < uncapped


def test_simhash_rejects_lossy_banding(spark):
    from gliner_spark.operators.dedup import simhash_candidates

    df = spark.createDataFrame([(0, [0] * 64)], ["doc_id", "bits"])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_candidates(df, max_hamming=8, n_bands=4)


def test_ivf_index_persisted_parity_and_pruning(
    spark, embeddings, tmp_path_factory
):
    """build_ivf_index + knn_ivf_indexed: (a) corpus lands partitioned
    by cell on disk; (b) results are IDENTICAL to the in-memory knn_ivf
    at the same training seed (deterministic k-means ⇒ same Voronoi
    cells); (c) the query scan carries a dynamicpruningexpression
    partition filter — only probed cells are read, the plan shape that
    makes the persisted index the 100 TB path."""
    import os

    from gliner_spark.operators.similarity import (
        build_ivf_index,
        knn_ivf,
        knn_ivf_indexed,
    )

    path = str(tmp_path_factory.mktemp("ivf")) + "/index"
    cents = build_ivf_index(embeddings, path, n_cells=8, seed=5)
    assert len(cents) == 8
    cells = sorted(x for x in os.listdir(path) if x.startswith("cell="))
    assert len(cells) > 1  # genuinely partitioned layout
    q = embeddings.where("vec_id < 8").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    indexed = knn_ivf_indexed(spark, path, q, k=5, n_probe=3)
    a = sorted(tuple(r) for r in indexed.collect())
    b = sorted(
        tuple(r)
        for r in knn_ivf(
            embeddings, q, k=5, n_cells=8, n_probe=3, seed=5
        ).collect()
    )
    assert a == b and len(a) > 0
    plan = (
        indexed._jdf.queryExecution().executedPlan().toString()
    )
    assert "dynamicpruningexpression" in plan


def test_knn_ivf_clustered_recall_beats_probe_fraction(spark):
    """The property that makes IVF an ANN index: on clustered data,
    probing the nearest cells recovers far more than n_probe/n_cells of
    the true neighbors (random cell assignment — the r01 bug — cannot
    beat the probe fraction in expectation)."""
    import numpy as np

    from gliner_spark.operators.similarity import knn_bruteforce, knn_ivf

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((8, 16)) * 5.0
    rows = [
        (i, (centers[i % 8] + rng.normal(0, 0.3, 16)).tolist())
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where("vec_id < 24").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_bruteforce(df, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in knn_ivf(df, queries, k=5, n_cells=8, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall  # probe fraction is only 2/8 = 0.25


def test_bpe_token_stats_vs_python(spark, docs):
    import re as _re

    from gliner_spark.operators.textstats import BPE_ISH_PATTERN, bpe_token_stats

    got = {r.doc_id: (r.n_tokens_ws, r.n_tokens_bpe, r.chars_per_bpe_token)
           for r in bpe_token_stats(docs).collect()}
    rx = _re.compile(BPE_ISH_PATTERN)
    for row in docs.select("doc_id", "text").collect():
        n_bpe = len(rx.findall(row.text))
        assert got[row.doc_id][1] == n_bpe, row.doc_id
        if n_bpe:
            assert abs(got[row.doc_id][2] - round(len(row.text) / n_bpe, 6)) < 1e-9
    # BPE-ish pieces at least as numerous as whitespace words on latin text
    en = {r.doc_id for r in docs.where("lang = 'en'").collect()}
    assert all(got[d][1] >= got[d][0] * 0.5 for d in en)


def test_tfidf_top_terms(spark):
    """Rank is integer-ordered (tf desc, df asc, term asc) so it cannot
    flip on float math; score = tf·ln(N/df) emitted as a value column."""
    import math

    from gliner_spark.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple apple banana common common common"),
            Row(doc_id=2, text="banana cherry common common"),
            Row(doc_id=3, text="cherry cherry cherry common"),
        ]
    )
    out = tfidf_top_terms(docs, k=2).orderBy("doc_id", "term").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # every doc got exactly k=2 terms
    assert {d: len(rs) for d, rs in by_doc.items()} == {1: 2, 2: 2, 3: 2}
    # doc 1: common tf=3 but df=3; apple tf=2 df=1 → top by (tf desc):
    # common(3) then apple(2)
    d1 = {r.term: r for r in by_doc[1]}
    assert set(d1) == {"common", "apple"}
    assert d1["apple"].tf == 2 and d1["apple"].df == 1
    assert d1["apple"].score == pytest.approx(
        round(2 * math.log(3 / 1), 6), abs=1e-6
    )
    # common appears in every doc → idf = ln(1) = 0
    assert d1["common"].score == 0.0
    # doc 2 tie at tf=1: banana (df=2) beats cherry (df=2) on term asc;
    # common tf=2 wins first slot
    d2 = [r.term for r in sorted(by_doc[2], key=lambda r: (-r.tf, r.df, r.term))]
    assert d2 == ["common", "banana"]


def test_repetition_stats_vs_python(spark, docs):
    from collections import Counter

    from gliner_spark.operators.textstats import repetition_stats

    pat = re.compile(r"\w+(?:[-_]\w+)*|\S")
    rows = docs.limit(30).collect()
    got = {
        r.doc_id: r
        for r in repetition_stats(spark.createDataFrame(rows)).collect()
    }
    for r in rows:
        lines = r.text.split("\n")
        toks = pat.findall(r.text.lower())
        tg = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        bg = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        g = got[r.doc_id]
        assert g.n_lines == len(lines)
        assert abs(
            g.dup_line_frac - round(1 - len(set(lines)) / len(lines), 6)
        ) < 1e-9
        assert g.n_trigrams == len(tg)
        if tg:
            assert abs(
                g.dup_trigram_frac - round(1 - len(set(tg)) / len(tg), 6)
            ) < 1e-9
        if bg:
            top = Counter(bg).most_common(1)[0][1]
            assert abs(g.top_bigram_frac - round(top / len(bg), 6)) < 1e-9


def test_repetition_stats_planted(spark):
    from gliner_spark.operators.textstats import repetition_stats

    rows = [
        Row(doc_id=1, text="spam line\nspam line\nspam line\nspam line"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta theta"),
        Row(doc_id=3, text=""),
    ]
    got = {r.doc_id: r for r in
           repetition_stats(spark.createDataFrame(rows)).collect()}
    assert got[1].dup_line_frac == 0.75  # 4 lines, 1 distinct
    assert got[1].dup_trigram_frac > 0.5  # "spam line spam" repeats
    assert got[1].top_bigram_frac > 0.4  # "spam line" dominates
    assert got[2].dup_line_frac == 0.0
    assert got[2].dup_trigram_frac == 0.0
    assert got[3].n_lines == 1 and got[3].n_trigrams == 0
    assert got[3].top_bigram_frac == 0.0


def test_word_ngrams_short_input_empty(spark):
    from gliner_spark.functions.text import word_ngrams

    df = spark.createDataFrame(
        [Row(toks=["a"]), Row(toks=["a", "b"]), Row(toks=["a", "b", "c"])]
    )
    out = [r.g for r in df.select(
        word_ngrams(F.col("toks"), 3).alias("g")).collect()]
    assert out == [[], [], ["a b c"]]


def test_substring_duplicates_planted(spark):
    from gliner_spark.operators.dedup import substring_duplicates

    core = ("the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strange potions at midnight")
    rows = [
        Row(doc_id=1, text=core),
        Row(doc_id=2, text=core + " and an appended conclusion follows"),
        Row(doc_id=3, text="a prepended preamble comes first then " + core),
        # wrapped on BOTH sides: out of reach of prefix/suffix buckets by
        # design (documented) — must NOT appear in the output
        Row(doc_id=4, text="head words " + core + " tail words"),
        Row(doc_id=5, text="completely unrelated content about gardening "
                           "with tomatoes cucumbers and a fine trellis"),
    ]
    out = substring_duplicates(
        spark.createDataFrame(rows), key_tokens=5
    ).collect()
    pairs = {(r.contained_id, r.container_id) for r in out}
    assert (1, 2) in pairs  # shared prefix bucket
    assert (1, 3) in pairs  # shared suffix bucket
    assert all(p[0] != 4 and p[1] != 4 for p in pairs)
    assert all(5 not in p for p in pairs)
    for r in out:
        assert r.len_contained <= r.len_container


def test_substring_duplicates_skips_short_docs(spark):
    from gliner_spark.operators.dedup import substring_duplicates

    rows = [Row(doc_id=1, text="too short"), Row(doc_id=2, text="too short")]
    assert substring_duplicates(
        spark.createDataFrame(rows), key_tokens=5
    ).count() == 0


# --------------------------------------------- repeated-substring spans


def _brute_repeated_spans(texts, k):
    """Python restatement of repeated_ngram_spans' contract: windows of k
    normalized tokens occurring >1 time in the corpus, all occurrences
    but the (doc_id, pos)-min canonical cut, merged per doc."""
    toks = {
        d: re.findall(r"\w+(?:[-_]\w+)*|\S", re.sub(r"\s+", " ", t.lower()).strip())
        for d, t in texts.items()
    }
    occ = {}
    for d in sorted(toks):
        ts = toks[d]
        for p in range(len(ts) - k + 1):
            occ.setdefault(tuple(ts[p : p + k]), []).append((d, p))
    cuts = {}
    for places in occ.values():
        if len(places) >= 2:
            for d, p in sorted(places)[1:]:
                cuts.setdefault(d, set()).add(p)
    out = set()
    for d, ps in cuts.items():
        run = []
        for p in sorted(ps):
            if run and p <= run[-1][1]:
                run[-1] = (run[-1][0], max(run[-1][1], p + k), run[-1][2] + 1)
            else:
                run.append((p, p + k, 1))
        for s, e, n in run:
            out.add((d, s, e, n))
    return out


def test_repeated_ngram_spans_vs_bruteforce(spark, docs):
    from gliner_spark.operators.dedup import repeated_ngram_spans

    base = docs.limit(40).select("doc_id", "text")
    # plant repeats: shared boilerplate tail on doc_id%5==0, full
    # self-duplication on doc_id%11==0
    boiler = " ".join(f"boiler{i} clause" for i in range(12))
    planted = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" " + boiler))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat("text", F.lit(" "), "text"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    k = 12
    got = {
        (r.doc_id, r.tok_start, r.tok_end, r.n_windows)
        for r in repeated_ngram_spans(planted, k=k).collect()
    }
    texts = {r.doc_id: r.text for r in planted.collect()}
    want = _brute_repeated_spans(texts, k)
    assert got == want
    assert any(True for _ in got)  # planted repeats must surface


def test_repeated_ngram_spans_clean_corpus_empty(spark):
    from gliner_spark.operators.dedup import repeated_ngram_spans

    rows = [Row(doc_id=i, text=" ".join(f"u{i}w{j}" for j in range(30)))
            for i in range(8)]
    assert repeated_ngram_spans(spark.createDataFrame(rows), k=10).count() == 0


# ------------------------------------------------- cross-doc line dedup


def _line_dedup_oracle(rows, min_df):
    """Python restatement of drop_common_lines' contract: a non-empty
    trimmed line appearing in >= min_df distinct docs is removed from
    every doc; empty-trim lines are kept verbatim; order preserved."""
    from collections import Counter

    df = Counter()
    for _, text in rows:
        df.update({ln.strip() for ln in text.split("\n") if ln.strip()})
    drop = {ln for ln, c in df.items() if c >= min_df}
    out = {}
    for doc_id, text in rows:
        parts = text.split("\n")
        kept = [l for l in parts if not l.strip() or l.strip() not in drop]
        n_lines = sum(1 for l in parts if l.strip())
        n_kept = sum(1 for l in kept if l.strip())
        out[doc_id] = ("\n".join(kept), n_lines, n_lines - n_kept)
    return out


def _line_dedup_sides(side, call):
    """drop_common_lines on both sides of its broadcast gate (the
    `side` fixture): the broadcast array probe and the line-hash join."""
    from gliner_spark.operators import dedup

    return side(call, gate=(dedup, "BROADCAST_DROP_MAX", "_drop_lines_broadcast"))


def test_drop_common_lines_vs_oracle_both_strategies(spark, side):
    from gliner_spark.operators.dedup import drop_common_lines

    boiler = "subscribe to our newsletter"
    foot = "copyright acme corp"
    rows = [
        (1, f"{boiler}\nalpha body one\n{foot}"),
        (2, f"{boiler}\nbeta body two"),
        (3, f"gamma body three\n{foot}"),
        (4, f"  {boiler} \n\ndelta body four\n   "),  # trim-match + empties
        (5, f"{boiler}\n{boiler}"),                   # within-doc repeat
        (6, ""),                                      # empty doc
        (7, "unique seven only"),
    ]
    want = _line_dedup_oracle(rows, min_df=2)
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    got = {
        r.doc_id: (r.text, r.n_lines, r.n_dropped)
        for r in _line_dedup_sides(
            side, lambda: drop_common_lines(docs, min_df=2)
        )
    }
    assert got == want


def test_drop_common_lines_min_df_and_clean_corpus(spark, side):
    from gliner_spark.operators.dedup import drop_common_lines

    rows = [(i, f"unique head {i}\nshared tail") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    # min_df above the actual df: nothing dropped, text unchanged
    out = _line_dedup_sides(side, lambda: drop_common_lines(docs, min_df=4))
    assert all(r.n_dropped == 0 for r in out)
    assert {r.text for r in out} == {t for _, t in rows}
    # min_df met: the shared line goes from every doc
    out2 = {
        r.doc_id: r.text
        for r in _line_dedup_sides(
            side, lambda: drop_common_lines(docs, min_df=3)
        )
    }
    assert out2 == {i: f"unique head {i}" for i in range(3)}


def test_drop_common_lines_preserves_extra_columns(spark, side):
    from gliner_spark.operators.dedup import drop_common_lines

    docs = spark.createDataFrame(
        [(1, "x", "b\na"), (2, "y", "b\nc"), (3, "z", None)],
        "doc_id: bigint, tag: string, text: string",
    )
    out = {
        r.doc_id: (r.tag, r.text)
        for r in _line_dedup_sides(side, lambda: drop_common_lines(docs))
    }
    assert out == {1: ("x", "a"), 2: ("y", "c"), 3: ("z", None)}


# ------------------------------------------------------ product quantization


def _pq_fixture(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.standard_normal((8, 16)) * 5.0
    rows = [
        (i, (centers[i % 8] + rng.normal(0, 0.3, 16)).tolist())
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where("vec_id < 16").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return df, queries


def _round6(x):
    """Spark round(x, 6): HALF_UP over the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _units(rows, id_col):
    import numpy as np

    vecs = {r[id_col]: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    return {i: v / np.linalg.norm(v) for i, v in vecs.items()}


def _numpy_codes(units, books):
    """PQ codes by plain numpy argmin ‖sub − c‖² (lowest-index ties)."""
    import numpy as np

    nb = [np.asarray(b, dtype=np.float64) for b in books]
    sub_d = nb[0].shape[1]
    return {
        vid: [
            int(np.argmin(((b - u[j * sub_d : (j + 1) * sub_d]) ** 2).sum(1)))
            for j, b in enumerate(nb)
        ]
        for vid, u in units.items()
    }


def _adc_replay(q_units, codes, cell_of, books, k, cents=None, n_probe=1):
    """Independent ADC top-k: per query, probe the n_probe cells nearest
    by (dist2, cell) (flat PQ: cents=None, one cell 0 with <q, c> = 0),
    score every row of a probed cell as <q, c_cell> + Σ_j <q_j,
    book_j[code_j]>, round to 6dp and rank by (score desc, vec_id asc).
    → sorted [(query_id, vec_id, score, rank)]."""
    import numpy as np

    nb = [np.asarray(b, dtype=np.float64) for b in books]
    sub_d = nb[0].shape[1]
    out = []
    for qid, qu in q_units.items():
        if cents is None:
            probe = {0: 0.0}
        else:
            C = np.asarray(cents, dtype=np.float64)
            order = sorted(
                range(len(C)),
                key=lambda c: (float(((qu - C[c]) ** 2).sum()), c),
            )[:n_probe]
            probe = {c: float(qu @ C[c]) for c in order}
        scored = []
        for vid, cs in codes.items():
            if cell_of[vid] not in probe:
                continue
            adc = sum(
                float(qu[j * sub_d : (j + 1) * sub_d] @ nb[j][c])
                for j, c in enumerate(cs)
            )
            scored.append((_round6(adc + probe[cell_of[vid]]), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        out += [(qid, v, sc, i + 1) for i, (sc, v) in enumerate(scored[:k])]
    return sorted(out)


def _refine_replay(adc_rows, exact_cos, k, refine):
    """Exact re-rank of each query's ADC top refine·k by brute-force cos."""
    out = []
    for qid in sorted({r[0] for r in adc_rows}):
        cand = [
            (exact_cos[(qid, v)], v)
            for q, v, _s, rank in adc_rows
            if q == qid and rank <= refine * k
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        out += [(qid, v, sc, i + 1) for i, (sc, v) in enumerate(cand[:k])]
    return sorted(out)


def _ivfpq_replay(spark, path, q_units, k, n_probe):
    """_adc_replay over a persisted IVF-PQ index: centroids, codebooks
    and nbits from the `_ivfpq.json` sidecar, codes unpacked from the
    packed parquet by shift/mask."""
    import json

    with open(f"{path}/_ivfpq.json") as f:
        meta = json.load(f)
    nbits, m = meta["nbits"], len(meta["books"])
    mask = (1 << nbits) - 1
    rows = spark.read.parquet(path).collect()
    codes = {
        r.vec_id: [(r.packed >> (j * nbits)) & mask for j in range(m)]
        for r in rows
    }
    cell_of = {r.vec_id: r.cell for r in rows}
    return _adc_replay(
        q_units, codes, cell_of, meta["books"], k, meta["cents"], n_probe
    )


def _ranked_rows(out):
    return sorted(
        (r.query_id, r.vec_id, r.score, r.rank) for r in out.collect()
    )


def test_pq_encode_matches_numpy_argmin(spark):
    from gliner_spark.operators.dedup import unit_vector
    from gliner_spark.operators.similarity import _pq_codes_udf, train_pq

    df, _q = _pq_fixture(spark)
    books = train_pq(df, m=4, nbits=3, kmeans_iter=3)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    enc = _pq_codes_udf(books, 3)
    packed = {
        r.vec_id: r.packed
        for r in df.select(
            "vec_id", enc(unit_vector("embedding")).alias("packed")
        ).collect()
    }
    # unpack by shift/mask: code_j sits in bits [3j, 3j + 3)
    got = {
        v: [(p >> (3 * j)) & 7 for j in range(4)] for v, p in packed.items()
    }
    assert got == _numpy_codes(_units(df.collect(), "vec_id"), books)
    # m·nbits beyond one BIGINT is rejected, never silently truncated
    with pytest.raises(ValueError, match="cannot pack"):
        _pq_codes_udf(books, 16)


def test_pq_adc_scores_match_numpy(spark):
    import numpy as np

    from gliner_spark.operators.similarity import knn_pq, train_pq

    df, queries = _pq_fixture(spark)
    books = train_pq(df, m=4, nbits=3, kmeans_iter=3)
    out = knn_pq(df, queries, books, k=300)  # k = corpus: every score
    got = {(r.query_id, r.vec_id): r.score for r in out.collect()}
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in df.collect()}
    nb = [np.asarray(b, dtype=np.float64) for b in books]
    units = {i: v / np.linalg.norm(v) for i, v in vecs.items()}
    codes = {}
    for vid, u in units.items():
        codes[vid] = [
            int(np.argmin(((nb[j] - u[j * 4 : (j + 1) * 4]) ** 2).sum(axis=1)))
            for j in range(4)
        ]
    for qid in range(16):
        qu = units[qid]
        for vid, cs in codes.items():
            want = sum(
                float(qu[j * 4 : (j + 1) * 4] @ nb[j][cs[j]]) for j in range(4)
            )
            assert abs(got[(qid, vid)] - want) < 1e-5, (qid, vid)


def test_pq_clustered_recall_and_refine(spark):
    from gliner_spark.operators.similarity import (
        knn_bruteforce,
        knn_pq,
        train_pq,
    )

    df, queries = _pq_fixture(spark)
    books = train_pq(df, m=8, nbits=4, kmeans_iter=4)
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_bruteforce(df, queries, k=5).collect()
    }
    adc = {
        (r.query_id, r.vec_id)
        for r in knn_pq(df, queries, books, k=5).collect()
    }
    # PQ's resolution is BETWEEN clusters: inside a tight cluster every
    # member quantizes to the same codes, ADC scores tie, and the
    # vec_id tie-break need not pick the true top-5 — so raw top-5
    # recall is legitimately modest here. The property ADC must carry
    # is cluster-correctness: every hit comes from the query's cluster.
    assert all(v % 8 == q % 8 for q, v in adc), sorted(adc)[:5]
    recall = len(exact & adc) / len(exact)
    # exact re-rank of the ADC top-(refine·k) resolves the within-
    # cluster ties and returns true cosines: every refined hit must
    # carry the brute-force score, and recall jumps to ~1
    refined = knn_pq(df, queries, books, k=5, refine=8)
    bf = {(r.query_id, r.vec_id): r.cos
          for r in knn_bruteforce(df, queries, k=300).collect()}
    ref_pairs = set()
    for r in refined.collect():
        assert abs(bf[(r.query_id, r.vec_id)] - r.score) < 1e-9
        ref_pairs.add((r.query_id, r.vec_id))
    recall_ref = len(exact & ref_pairs) / len(exact)
    assert recall_ref >= recall
    assert recall_ref >= 0.9, recall_ref


def test_ivfpq_index_recall_pruning_and_packing(spark, tmp_path_factory):
    """build_ivfpq_index + knn_ivfpq_indexed: (a) parquet lands
    partitioned by cell with ONE BIGINT of payload per vector (the m=4
    nbits=4 codes packed by shift — 8 B vs the 128 B float vector);
    (b) full-probe ADC + exact refine recovers ≥90% of the brute-force
    top-5 with true-cosine scores; (c) a partial-probe query plan
    carries a static `cell IN (...)` partition filter — only probed
    cells are read — and its rows equal the numpy ADC replay."""
    import os

    from gliner_spark.operators.similarity import (
        build_ivfpq_index,
        knn_bruteforce,
        knn_ivfpq_indexed,
    )

    df, queries = _pq_fixture(spark)
    path = str(tmp_path_factory.mktemp("ivfpq")) + "/index"
    cents, books = build_ivfpq_index(
        df, path, n_cells=8, m=4, nbits=4, seed=5
    )
    assert len(cents) == 8 and len(books) == 4 and len(books[0]) == 16
    cells = [x for x in os.listdir(path) if x.startswith("cell=")]
    assert len(cells) > 1  # genuinely partitioned layout
    idx = spark.read.parquet(path)
    assert dict(idx.dtypes)["packed"] == "bigint"

    exact = {
        (r.query_id, r.vec_id): r.cos
        for r in knn_bruteforce(df, queries, k=5).collect()
    }
    out = knn_ivfpq_indexed(
        spark, path, queries, k=5, n_probe=8, refine=8, source=df
    )
    got = {(r.query_id, r.vec_id): r.score for r in out.collect()}
    overlap = [key for key in exact if key in got]
    assert len(overlap) / len(exact) >= 0.9
    for key in overlap:  # refined scores are TRUE cosines
        assert abs(exact[key] - got[key]) < 1e-9

    part = knn_ivfpq_indexed(spark, path, queries, k=3, n_probe=2)
    rows = _ranked_rows(part)
    assert len(rows) == 3 * queries.count()
    # partitions are pruned STATICALLY: the probed cell set is known at
    # plan time, so the scan carries a literal partition filter
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan and " IN " in plan
    # and the partial probe returns exactly the numpy residual-ADC replay
    q_units = _units(queries.collect(), "query_id")
    assert rows == _ivfpq_replay(spark, path, q_units, k=3, n_probe=2)


def test_pq_adc_matches_numpy_replay(spark, tmp_path_factory):
    """The ADC path (batched numpy LUT gather + per-partition partial
    top-k, similarity._adc_topk_arrow) must return EXACTLY the rows of
    an independent numpy replay — (query_id, vec_id, score, rank) after
    6dp HALF_UP rounding and the (score desc, vec_id asc) rank — for
    flat PQ (the one-cell case), flat PQ with exact refine, and the
    persisted IVF-PQ index with partial and full probes."""
    from gliner_spark.operators.similarity import (
        build_ivfpq_index,
        knn_bruteforce,
        knn_ivfpq_indexed,
        knn_pq,
        train_pq,
    )

    df, queries = _pq_fixture(spark)
    q_units = _units(queries.collect(), "query_id")
    exact_cos = {
        (r.query_id, r.vec_id): r.cos
        for r in knn_bruteforce(df, queries, k=300).collect()
    }
    for m, nbits in ((4, 3), (8, 4)):
        books = train_pq(df, m=m, nbits=nbits, kmeans_iter=3)
        codes = _numpy_codes(_units(df.collect(), "vec_id"), books)
        one_cell = dict.fromkeys(codes, 0)
        for k in (7, 300):
            assert _ranked_rows(knn_pq(df, queries, books, k=k)) == (
                _adc_replay(q_units, codes, one_cell, books, k)
            ), (m, nbits, k)
        adc30 = _adc_replay(q_units, codes, one_cell, books, 30)
        assert _ranked_rows(
            knn_pq(df, queries, books, k=5, refine=6)
        ) == _refine_replay(adc30, exact_cos, 5, 6), (m, nbits)

    path = str(tmp_path_factory.mktemp("ivfpq_replay")) + "/index"
    build_ivfpq_index(df, path, n_cells=8, m=4, nbits=4, seed=5)
    assert _ranked_rows(
        knn_ivfpq_indexed(spark, path, queries, k=5, n_probe=3)
    ) == _ivfpq_replay(spark, path, q_units, k=5, n_probe=3)
    adc20 = _ivfpq_replay(spark, path, q_units, k=20, n_probe=8)
    assert _ranked_rows(
        knn_ivfpq_indexed(
            spark, path, queries, k=5, n_probe=8, refine=4, source=df
        )
    ) == _refine_replay(adc20, exact_cos, 5, 4)

    # empty query batch short-circuits to an empty, correctly-typed frame
    eq = queries.where("query_id < 0")
    empty = knn_pq(df, eq, books, k=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "vec_id", "score", "rank",
    ]
    assert knn_ivfpq_indexed(spark, path, eq, k=5).count() == 0


def test_pq_exact_boundary_equals_bruteforce(spark, tmp_path_factory):
    """Exact boundary of the compressed paths: probing every cell and
    refining over the whole corpus (refine·k ≥ n) re-ranks every vector
    by exact cosine, so knn_pq and knn_ivfpq_indexed must return the
    brute-force top-k row for row."""
    from gliner_spark.operators.similarity import (
        build_ivfpq_index,
        knn_bruteforce,
        knn_ivfpq_indexed,
        knn_pq,
        train_pq,
    )

    df, queries = _pq_fixture(spark)
    k, refine = 5, 60  # refine·k = 300 = corpus size
    want = sorted(
        (r.query_id, r.vec_id, r.cos, r.rank)
        for r in knn_bruteforce(df, queries, k=k).collect()
    )
    books = train_pq(df, m=8, nbits=4, kmeans_iter=2)
    assert _ranked_rows(
        knn_pq(df, queries, books, k=k, refine=refine)
    ) == want
    path = str(tmp_path_factory.mktemp("ivfpq_exact")) + "/index"
    build_ivfpq_index(df, path, n_cells=8, m=4, nbits=4, seed=5)
    assert _ranked_rows(
        knn_ivfpq_indexed(
            spark, path, queries, k=k, n_probe=8, refine=refine, source=df
        )
    ) == want


# ------------------------------------------------------------ semantic dedup


def test_semantic_duplicates_planted_twins(spark):
    """SemDeDup: planted near-identical twins (cos ≈ 0.997) must be
    found within clusters — subset of the brute-force exact pairs with
    ≥90% recall (a twin only escapes if k-means splits it from its
    original, which the tight clusters make rare)."""
    import numpy as np

    from gliner_spark.operators.dedup import (
        embedding_near_duplicates_bruteforce,
        semantic_duplicates,
    )

    rng = np.random.RandomState(5)
    base = rng.standard_normal((40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in (v + rng.normal(0, 0.05, 64))]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r.vec_a, r.vec_b): r.cos
             for r in embedding_near_duplicates_bruteforce(
                 df, threshold=0.95).collect()}
    got = {(r.vec_a, r.vec_b): r.cos
           for r in semantic_duplicates(
               df, threshold=0.95, n_clusters=8).collect()}
    assert set(got) <= set(exact)
    assert len(got) / len(exact) >= 0.9
    for key in got:  # within-cluster cosine is EXACT, not approximated
        assert abs(got[key] - exact[key]) < 1e-9


def test_assign_nearest_matches_literal_nearest_centroid(spark, embeddings):
    """The broadcast-tensor assignment (assign_nearest) must reproduce a
    literal plain-Python nearest-centroid argmin bit-for-bit — the same left-to-right double sum
    of squared differences, the same (dist2, cluster) tie-break — since
    kmeans and every index build route through it."""
    from gliner_spark.operators.similarity import (
        assign_nearest,
        centroid_table,
        unit_vector,
    )

    cents = [
        list(r.centroid)
        for r in centroid_table(embeddings, n_cells=13).collect()
    ]
    e = embeddings.select("vec_id", unit_vector("embedding").alias("x"))

    def dist2(x, c):
        acc = 0.0
        for a, b in zip(x, c):
            acc = acc + (a - b) * (a - b)
        return acc

    lit = {}
    for r in e.collect():
        d, i = min((dist2(r.x, c), i) for i, c in enumerate(cents))
        lit[r.vec_id] = (i, d)
    bc = {
        r.vec_id: (r.cluster, r.dist2)
        for r in assign_nearest(e, cents, "x").collect()
    }
    assert lit == bc


def test_avi_codec_roundtrip():
    """encode_avi → decode_avi is the identity on frame stacks, including
    padded strides; header fields (fps, dims, order) survive."""
    import numpy as np

    from gliner_spark.operators.multimodal import decode_avi, encode_avi

    rng = np.random.RandomState(11)
    for w, h, n in [(8, 6, 4), (5, 3, 2), (1, 1, 1), (7, 2, 3)]:
        frames = rng.randint(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        buf = encode_avi(frames, fps=12)
        assert buf[:4] == b"RIFF" and buf[8:12] == b"AVI "
        out, fps = decode_avi(buf)
        assert fps == 12
        assert np.array_equal(out, frames)
    with pytest.raises(ValueError, match="RIFF"):
        decode_avi(b"BM------------")


def test_multimodal_avi_real_decode_e2e(spark):
    """video_stats over genuine AVI payloads: the synthetic pattern is
    recomputable in pure numpy, so every statistic — including the
    ORDER-SENSITIVE motion sum — checks the actual chunk walk. A frame
    swap must change motion_sum (frame order is really verified)."""
    import numpy as np

    from gliner_spark.operators.multimodal import (
        _synth_pixels,
        decode_avi,
        encode_avi,
        synth_avi_assets,
        video_stats,
    )

    got = {
        r.asset_id: r
        for r in video_stats(
            synth_avi_assets(spark, 6, n_frames=4, width=8, height=6)
        ).collect()
    }
    for aid in range(6):
        fi = np.stack(
            [_synth_pixels(aid * 131 + f, 8, 6, 42) for f in range(4)]
        ).astype(np.int64)
        r = got[aid]
        assert (r.n_frames, r.width, r.height, r.fps) == (4, 8, 6, 10)
        assert r.sum_rgb == int(fi.sum())
        assert r.motion_sum == int(np.abs(fi[1:] - fi[:-1]).sum())
        assert r.mean_rgb == float(fi.sum()) / fi.size
    # order sensitivity: swapping two frames changes motion_sum
    fr = np.stack([_synth_pixels(999 + f, 8, 6, 42) for f in range(4)])
    a, _ = decode_avi(encode_avi(fr))
    swapped = fr[[1, 0, 2, 3]]
    m1 = int(np.abs(fr[1:].astype(int) - fr[:-1].astype(int)).sum())
    m2 = int(np.abs(swapped[1:].astype(int) - swapped[:-1].astype(int)).sum())
    assert m1 != m2


def test_resize_video_real_pixels(spark):
    """resize_video decodes, nn-resamples every frame, re-encodes: the
    output parses back with the target dims, same frame count/fps, and
    pixel values equal per-frame nn_resize of the originals."""
    import numpy as np

    from gliner_spark.operators.multimodal import (
        _synth_pixels,
        decode_avi,
        nn_resize,
        resize_video,
        synth_avi_assets,
    )

    out = {
        r.asset_id: (r.width, r.height, bytes(r.data))
        for r in resize_video(
            synth_avi_assets(spark, 4, n_frames=3, width=8, height=6),
            width=4,
            height=12,
        ).collect()
    }
    assert len(out) == 4
    for aid, (w, h, buf) in out.items():
        assert (w, h) == (4, 12)
        frames, fps = decode_avi(buf)
        assert fps == 10 and frames.shape == (3, 12, 4, 3)
        for f in range(3):
            want = nn_resize(_synth_pixels(aid * 131 + f, 8, 6, 42), 4, 12)
            assert np.array_equal(frames[f], want)


# ------------------------------------------------------ perceptual hashing


def test_image_phash_bmp_png_pixel_parity(spark):
    """BMP and PNG wrap the SAME _synth_pixels — their aHashes must be
    bit-identical per asset (one more cross-container codec check)."""
    from gliner_spark.operators.multimodal import (
        image_phash_bits,
        synth_bmp_assets,
        synth_png_assets,
    )

    bmp = {
        r["doc_id"]: list(r["bits"])
        for r in image_phash_bits(
            synth_bmp_assets(spark, 12, width=16, height=12), "bmp"
        ).collect()
    }
    png = {
        r["doc_id"]: list(r["bits"])
        for r in image_phash_bits(
            synth_png_assets(spark, 12, width=16, height=12), "png"
        ).collect()
    }
    assert bmp == png and len(bmp) == 12
    assert all(len(b) == 64 and set(b) <= {0, 1} for b in bmp.values())


def test_image_phash_brightness_invariant_noise_tolerant(spark):
    """aHash is exactly invariant to a uniform brightness shift and
    moves only locally under a corner patch."""
    import numpy as np
    import pandas as pd

    from gliner_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_bmp,
        image_phash_bits,
    )

    # smooth gradient, darkest at the top-left (those cells are 0-bits)
    y, x = np.mgrid[0:24, 0:32]
    base = np.clip(4 * x + 5 * y, 0, 200).astype(np.uint8)
    base = np.stack([base] * 3, axis=-1)
    brighter = base + 20  # headroom by construction: max 220
    noised = base.copy()
    noised[:6, :8] = 255  # top-left quarter-of-quarter patch
    pdf = pd.DataFrame(
        {
            "asset_id": [0, 1, 2],
            "kind": ["image"] * 3,
            "data": [encode_bmp(v) for v in (base, brighter, noised)],
            "meta": [{"codec": "bmp"}] * 3,
        }
    )
    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    bits = {
        r["doc_id"]: list(r["bits"])
        for r in image_phash_bits(assets, "bmp").collect()
    }
    assert bits[0] == bits[1]  # brightness shift: hamming 0
    ham = sum(a != b for a, b in zip(bits[0], bits[2]))
    # the patch covers the darkest sampled cells -> they flip to 1;
    # mean shift may move a few borderline cells, nothing more
    assert 0 < ham <= 16


def test_image_near_duplicates_finds_planted_pair(spark):
    """A brightness-shifted copy is found at hamming 0; images with
    genuinely different gradient directions do not all glue together
    (the shared-gradient _synth_pixels family would — its assets are
    near-shifts of one pattern, which is exactly what aHash ignores)."""
    import numpy as np
    import pandas as pd

    from gliner_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_bmp,
        image_phash_bits,
    )
    from gliner_spark.operators.dedup import simhash_candidates

    y, x = np.mgrid[0:24, 0:32]

    def img(k, m):
        g = ((x * k + y * m) % 211).astype(np.uint8)
        return np.stack([g] * 3, axis=-1)

    rows = [(i, encode_bmp(img(3 + 2 * i, 7 + 5 * i))) for i in range(20)]
    base5 = np.clip(img(13, 32), 0, 200)
    rows.append((100, encode_bmp((base5 + 15).astype(np.uint8))))
    rows.append((101, encode_bmp(base5.astype(np.uint8))))
    pdf = pd.DataFrame(
        {
            "asset_id": [r[0] for r in rows],
            "kind": ["image"] * len(rows),
            "data": [r[1] for r in rows],
            "meta": [{"codec": "bmp"}] * len(rows),
        }
    )
    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidates(
            image_phash_bits(assets), max_hamming=6, bits=64
        ).collect()
    }
    assert (100, 101) in pairs and pairs[(100, 101)] == 0
    # far from all-pairs (231): only genuinely close patterns pair up
    assert len(pairs) < 30


def test_audio_fingerprint_scale_invariant_and_deterministic(spark):
    """The HK fingerprint keeps every bit under an exact x2 amplitude
    scaling (band energies scale uniformly); distinct waveforms hash
    differently; 64 bits by default."""
    import numpy as np
    import pandas as pd

    from gliner_spark.operators.multimodal import (
        ASSET_SCHEMA,
        audio_fingerprint_bits,
        encode_wav,
    )

    rng_i = np.arange(512, dtype=np.int64)
    base = (((2654435761 * 9 + 40503 * rng_i + 4111) % 65536) - 32768)
    base = (base // 4).astype(np.int16)  # headroom for exact x2
    scaled = (base.astype(np.int32) * 2).astype(np.int16)
    other = (((2654435761 * 3 + 17 * rng_i * rng_i + 7) % 65536) - 32768
             ).astype(np.int16)
    pdf = pd.DataFrame(
        {
            "asset_id": [0, 1, 2],
            "kind": ["audio"] * 3,
            "data": [encode_wav(v, 8000) for v in (base, scaled, other)],
            "meta": [{"codec": "wav"}] * 3,
        }
    )
    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    bits = {
        r["doc_id"]: list(r["bits"])
        for r in audio_fingerprint_bits(assets).collect()
    }
    assert len(bits[0]) == 64 and set(bits[0]) <= {0, 1}
    assert bits[0] == bits[1]  # exact amplitude-scale invariance
    assert bits[0] != bits[2]
    again = {
        r["doc_id"]: list(r["bits"])
        for r in audio_fingerprint_bits(assets).collect()
    }
    assert again == bits


def test_audio_near_duplicates_finds_planted_scaled_copy(spark):
    import numpy as np
    import pandas as pd

    from gliner_spark.operators.multimodal import (
        ASSET_SCHEMA,
        audio_fingerprint_bits,
        encode_wav,
    )
    from gliner_spark.operators.dedup import simhash_candidates

    rng_i = np.arange(512, dtype=np.int64)
    rows = []
    for aid in range(12):
        s = (((2654435761 * aid + (31 + 7 * aid) * rng_i * rng_i + 13)
              % 65536) - 32768).astype(np.int16)
        rows.append((aid, s))
    tw = (rows[4][1] // 4).astype(np.int16)
    rows.append((100, tw))
    rows.append((101, (tw.astype(np.int32) * 3).astype(np.int16)))
    pdf = pd.DataFrame(
        {
            "asset_id": [r[0] for r in rows],
            "kind": ["audio"] * len(rows),
            "data": [encode_wav(r[1], 8000) for r in rows],
            "meta": [{"codec": "wav"}] * len(rows),
        }
    )
    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidates(
            audio_fingerprint_bits(assets), max_hamming=4, bits=64
        ).collect()
    }
    assert (100, 101) in pairs and pairs[(100, 101)] == 0
    assert len(pairs) < 20


def test_video_phash_majority_and_planted_pair(spark):
    """Majority-folded per-frame aHash: invariant to frame REORDERING
    and to a uniform brightness shift; a planted shifted/reordered copy
    is found at hamming 0 by the banded join."""
    import numpy as np
    import pandas as pd

    from gliner_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_avi,
        video_phash_bits,
    )
    from gliner_spark.operators.dedup import simhash_candidates

    y, x = np.mgrid[0:12, 0:16]

    def frame(k, m, off):
        g = np.clip((x * k + y * m + off) % 211, 0, 200).astype(np.uint8)
        return np.stack([g] * 3, axis=-1)

    def video(k, m):
        return np.stack([frame(k, m, 20 * f) for f in range(5)])

    rows = [(i, video(2 + 3 * i, 5 + 7 * i)) for i in range(8)]
    base = video(4, 9)
    rows.append((100, base))
    rows.append((101, (base[::-1] + 20)))  # reversed frames, brighter
    pdf = pd.DataFrame(
        {
            "asset_id": [r[0] for r in rows],
            "kind": ["video"] * len(rows),
            "data": [encode_avi(r[1].astype(np.uint8)) for r in rows],
            "meta": [{"codec": "avi"}] * len(rows),
        }
    )
    assets = spark.createDataFrame(pdf, ASSET_SCHEMA)
    bits = {
        r["doc_id"]: list(r["bits"])
        for r in video_phash_bits(assets).collect()
    }
    assert bits[100] == bits[101]
    assert len(bits[100]) == 64
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidates(
            video_phash_bits(assets), max_hamming=6, bits=64
        ).collect()
    }
    assert (100, 101) in pairs and pairs[(100, 101)] == 0
    assert len(pairs) < 15


def test_adc_topk_arrow_mixed_cell_batches(spark):
    """_adc_topk_arrow's cell_probe path must score correctly when ONE
    Arrow batch carries rows of several cells (a cell-partitioned
    parquet read never produces this, so the partitioned-index tests
    can't catch a regression in the per-cell batch split)."""
    import numpy as np

    from pyspark.sql import types as T

    from gliner_spark.operators.similarity import (
        _adc_topk_arrow,
        _np_round6,
    )

    rng = np.random.RandomState(9)
    m, nbits, k_codes = 4, 4, 16
    luts = rng.rand(3, m, k_codes)  # 3 queries
    codes = rng.randint(0, k_codes, size=(60, m))
    shifts = nbits * np.arange(m)
    packed = (codes.astype(np.int64) << shifts[None, :]).sum(axis=1)
    cells = np.array([i % 4 for i in range(60)])  # interleaved cells
    # queries probe overlapping cell subsets with distinct qdotc offsets
    cell_probe = {
        0: (np.array([0, 1]), np.array([0.25, -0.5])),
        1: (np.array([1, 2]), np.array([0.125, 0.75])),
        3: (np.array([0, 2]), np.array([1.5, -0.25])),
        # cell 2 probed by nobody -> its rows must be ignored
    }
    df = spark.createDataFrame(
        [
            (int(c), int(v), int(p))
            for v, (c, p) in enumerate(zip(cells, packed))
        ],
        "cell int, vec_id long, packed long",
    ).coalesce(1)  # ONE partition -> one batch with all four cells
    out = _adc_topk_arrow(
        df, [10, 11, 12], luts, 5, T.LongType(), nbits, cell_probe,
    ).collect()
    got = {(r.query_id, r.vec_id): r.score for r in out}
    # brute python replay
    want = {}
    for qi, qid in enumerate([10, 11, 12]):
        scored = []
        for v in range(60):
            probe = cell_probe.get(int(cells[v]))
            if probe is None or qi not in list(probe[0]):
                continue
            off = float(probe[1][list(probe[0]).index(qi)])
            s = off + sum(luts[qi, j, codes[v, j]] for j in range(m))
            scored.append((float(_np_round6(np.array([s]))[0]), v))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for s, v in scored[:5]:
            want[(qid, v)] = s
    assert got == want


def test_np_round6_matches_spark_round_on_boundaries(spark):
    """_np_round6 must reproduce Spark round(col, 6) exactly, INCLUDING
    the shortest-decimal-repr boundary cases where a scaled-floor
    half-up disagrees (x=1.0412225 is stored as ...2249...; Spark's
    BigDecimal path rounds it UP, floor(x*1e6+0.5) rounds DOWN)."""
    import numpy as np

    from gliner_spark.operators.similarity import _np_round6

    xs = [1.0412225, 1.9104794999999999, -1.0412225, 0.0000005,
          -0.0000005, 2.5e-7, 1.0, -3.7654321, 0.1234565]
    rng = np.random.RandomState(3)
    xs += [float(x) for x in rng.uniform(-2, 2, 500)]
    xs += [float(round(float(x), 7)) + 5e-7
          for x in rng.uniform(-1, 1, 200)]
    xs = [float(x) for x in xs]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    want = [r.y for r in df.select(F.round("x", 6).alias("y")).collect()]
    got = list(_np_round6(np.asarray(xs)))
    mism = [(x, g, w) for x, g, w in zip(xs, got, want) if g != w]
    assert not mism, mism[:5]
