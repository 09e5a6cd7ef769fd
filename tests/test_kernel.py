"""Semantics-kernel tests: the reference-fidelity contracts (SURVEY §5).

These are Spark-free. They pin:
 - tokenizer byte-equality with the reference regex
   (gliner/data_processing/tokenizer.py:15-21),
 - greedy decode equivalence: vectorized greedy_select vs a literal
   restatement of gliner/decoding/decoder.py:31-51 under all four
   (flat, multi_label) modes, including score ties,
 - threshold/candidate enumeration order (decoder.py:108-123),
 - metric semantics (evaluator.py:52-121, relation_extraction.py:240-269).
"""

import re

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from gliner_spark.kernel.decode import (
    decode_row,
    greedy_search_reference,
    greedy_select,
    threshold_candidates,
)
from gliner_spark.kernel.metrics import compute_prf_micro, triple_prf
from gliner_spark.kernel.oracle import OraclePipeline
from gliner_spark.kernel.scorer import HashedBiEncoder
from gliner_spark.kernel.tokenizer import TOKEN_RE, tokenize_with_offsets

SAMPLES = [
    "Hello, world-x_y! How's it going?",
    "",
    "   ",
    "a",
    "Cristiano Ronaldo dos Santos Aveiro plays for Al-Nassr FC.",
    "unicode: café naïve 東京 — dash…ok?",
    "tabs\tand\nnewlines  spaced",
    "snake_case and kebab-case and mixed-case_tokens here",
]


class TestTokenizer:
    @pytest.mark.parametrize("text", SAMPLES)
    def test_matches_reference_regex(self, text):
        ref = [(m.group(), m.start(), m.end())
               for m in re.finditer(r"\w+(?:[-_]\w+)*|\S", text)]
        toks, starts, ends = tokenize_with_offsets(text)
        assert list(zip(toks, starts, ends)) == ref

    def test_offsets_substring_identity(self):
        text = SAMPLES[4]
        toks, starts, ends = tokenize_with_offsets(text)
        for t, s, e in zip(toks, starts, ends):
            assert text[s:e] == t


# candidate spans: start 0..15, width 0..11, score from a small set → ties
span_strategy = st.lists(
    st.tuples(
        st.integers(0, 15),
        st.integers(0, 11),
        st.integers(0, 4),  # class
        st.sampled_from([0.51, 0.6, 0.6, 0.75, 0.9, 0.9, 0.99]),
    ),
    max_size=40,
)


class TestGreedy:
    @settings(max_examples=300, deadline=None)
    @given(span_strategy, st.booleans(), st.booleans())
    def test_vectorized_matches_reference(self, raw, flat_ner, multi_label):
        cands = [(s, s + w, c, sc) for s, w, c, sc in raw]
        ref = greedy_search_reference(cands, flat_ner=flat_ner, multi_label=multi_label)
        starts = np.array([c[0] for c in cands], dtype=np.int64)
        ends = np.array([c[1] for c in cands], dtype=np.int64)
        scores = np.array([c[3] for c in cands], dtype=np.float64)
        keep = greedy_select(starts, ends, scores, flat_ner=flat_ner, multi_label=multi_label)
        got = [cands[i] for i in keep]
        assert got == ref

    def test_flat_overlap_basic(self):
        # (0,2,.9) beats (1,3,.8); (5,6,.7) independent
        cands = [(0, 2, 0, 0.9), (1, 3, 0, 0.8), (5, 6, 1, 0.7)]
        out = greedy_search_reference(cands)
        assert out == [(0, 2, 0, 0.9), (5, 6, 1, 0.7)]

    def test_nested_allows_containment(self):
        cands = [(0, 5, 0, 0.9), (1, 2, 1, 0.8), (4, 6, 1, 0.7)]
        out = greedy_search_reference(cands, flat_ner=False)
        assert out == [(0, 5, 0, 0.9), (1, 2, 1, 0.8)]

    def test_multi_label_equal_bounds(self):
        cands = [(0, 2, 0, 0.9), (0, 2, 1, 0.8)]
        assert greedy_search_reference(cands, multi_label=True) == cands
        assert greedy_search_reference(cands, multi_label=False) == [cands[0]]

    def test_tie_break_follows_candidate_order(self):
        # equal scores: earlier candidate (row-major) wins under stable sort
        cands = [(0, 2, 1, 0.9), (0, 2, 0, 0.9)]
        assert greedy_search_reference(cands) == [(0, 2, 1, 0.9)]


class TestThreshold:
    def test_row_major_order_and_validity(self):
        probs = np.zeros((4, 3, 2), dtype=np.float32)
        probs[0, 1, 1] = 0.8   # span (0,1) ok
        probs[2, 2, 0] = 0.9   # span (2,4) end=5 > 4 tokens → dropped
        probs[3, 0, 0] = 0.7   # span (3,3) ok
        probs[1, 0, 1] = 0.6
        s, e, c, sc = threshold_candidates(probs, n_tokens=4, threshold=0.5)
        assert list(zip(s.tolist(), e.tolist(), c.tolist())) == [
            (0, 1, 1), (1, 1, 1), (3, 3, 0),
        ]
        assert sc.tolist() == pytest.approx([0.8, 0.6, 0.7], abs=1e-6)

    def test_ragged_class_bound(self):
        probs = np.full((2, 2, 3), 0.9, dtype=np.float32)
        s, e, c, sc = decode_row(probs, 2, 0.5, n_labels=1)
        assert set(c.tolist()) == {0}


class TestMetrics:
    def test_prf_zero_division(self):
        r = compute_prf_micro([[(0, 1, "x")]], [[]])
        assert r == {"precision": 0.0, "recall": 1 if False else 0.0, "f_score": 0.0}

    def test_prf_perfect(self):
        gold = [[(0, 1, "person"), (3, 4, "org")], [(1, 2, "person")]]
        r = compute_prf_micro(gold, gold)
        assert r["precision"] == r["recall"] == r["f_score"] == 1.0

    def test_prf_partial(self):
        gold = [[(0, 1, "a"), (2, 3, "b")]]
        pred = [[(0, 1, "a"), (5, 6, "a")]]
        r = compute_prf_micro(gold, pred)
        assert r["precision"] == 0.5 and r["recall"] == 0.5

    def test_triple_prf(self):
        t = ["a <> r <> b", "c <> r <> d"]
        p = ["a <> r <> b", "x <> r <> y"]
        r = triple_prf(p, t)
        assert r["precision"] == 0.5 and r["recall"] == 0.5
        assert r["true positives"] == 1


class TestOracle:
    def test_deterministic_and_plausible(self):
        o = OraclePipeline()
        labels = ["person", "organization", "location"]
        texts = [SAMPLES[4], SAMPLES[0], "data pipeline spark shuffle join"]
        a = o.run(texts, labels)
        b = o.run(texts, labels)
        assert a == b
        for ents in a:
            for e in ents:
                assert texts[a.index(ents)][e["start"]:e["end"]] == e["text"]
                assert 0.5 < e["score"] <= 1.0

    def test_empty_text(self):
        o = OraclePipeline()
        out = o.run([""], ["person"])
        assert isinstance(out[0], list)

    def test_label_dedup_order_preserving(self):
        o = OraclePipeline()
        a = o.run([SAMPLES[4]], ["person", "person", "org"])
        b = o.run([SAMPLES[4]], ["person", "org"])
        assert a == b

    def test_relations_shape(self):
        o = OraclePipeline()
        out = o.extract_relations(
            [SAMPLES[4]], relations=["plays for", "works with"],
            entity_types=["person", "organization"],
        )
        assert isinstance(out[0], list)
        for t in out[0]:
            assert set(t) == {"source", "relation", "target", "score", "start", "end"}


class TestScorerBatching:
    def test_padding_invariance(self):
        """Scores of a short row must not change when batched with longer
        rows (the batching-parity property the whole design leans on)."""
        sc = HashedBiEncoder()
        labels = sc.encode_labels(["person", "widget"])
        short = TOKEN_RE.findall("alpha beta gamma")
        longer = TOKEN_RE.findall("one two three four five six seven eight nine ten")
        ids_solo, _ = sc.ids_matrix([short])
        ids_batch, _ = sc.ids_matrix([short, longer])
        p_solo = sc.score_batch(ids_solo, labels, 12)[0]
        p_batch = sc.score_batch(ids_batch, labels, 12)[0]
        L = len(short)
        # compare only valid spans (end ≤ L)
        for s in range(L):
            for k in range(12):
                if s + k + 1 <= L:
                    assert p_solo[s, k].tolist() == pytest.approx(
                        p_batch[s, k].tolist(), abs=1e-6
                    )


class TestLabelSetCache:
    def test_cached_matrix_is_frozen_and_lru_bounded(self):
        """encode_labels returns the cached object — it must be read-only
        (mutation = immediate error, not silent cache corruption), and
        the label-SET cache must evict by bytes, LRU-first (ADVICE r02)."""
        sc = HashedBiEncoder()
        mat = sc.encode_labels(["person", "widget"])
        with pytest.raises(ValueError):
            mat[0, 0] = 99.0
        # same key returns the same object, values intact
        again = sc.encode_labels(["person", "widget"])
        assert again is mat
        # per-label vectors are frozen too
        with pytest.raises(ValueError):
            sc.encode_label("person")[0] = 1.0

        # force eviction with a tiny byte budget
        sc2 = HashedBiEncoder()
        per_set = sc2.encode_labels(["a0"]).nbytes
        sc2._LABELSET_CACHE_MAX_BYTES = per_set * 3
        sc2._labelset_cache.clear()
        sc2._labelset_bytes = 0
        first = sc2.encode_labels(["a0"])
        for i in range(1, 6):
            sc2.encode_labels([f"a{i}"])
        assert sc2._labelset_bytes <= per_set * 3
        # oldest set was evicted; a fresh call recomputes (equal values,
        # different object)
        refreshed = sc2.encode_labels(["a0"])
        assert refreshed is not first
        assert (refreshed == first).all()
