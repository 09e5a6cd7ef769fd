"""MOSS winnowing fingerprints (operators/dedup.py)."""
import hashlib
import re

import pytest

from gliner_spark.operators.dedup import winnow_fingerprints

_PAT = re.compile(r"\w+(?:[-_]\w+)*|\S")


def _py_winnow(text, k, w):
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    toks = _PAT.findall(norm)
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
    ]
    out = set()
    for i in range(len(hs) - w + 1):
        sub = hs[i : i + w]
        mn = min(sub)
        pos = i + max(j for j, v in enumerate(sub) if v == mn)
        out.add((pos, mn))
    return out


def test_matches_python_restatement(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "Pack my box with five dozen liquor jugs right now, ok?"),
        (3, "a a a a a a a a a a"),  # ties everywhere -> rightmost rule
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=3, window=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in rows:
        want = _py_winnow(text, 3, 4)
        assert got.get(doc_id, set()) == want, doc_id


def test_shared_run_guarantee(spark):
    # two docs sharing a run of >= window+k-1 tokens must share a fp
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "start one two " + shared + " tail x"),
        (2, "completely different lead-in words " + shared),
        (3, "no overlap with anything here at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df, k=3, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared run yielded no shared fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_density_bound(spark):
    text = " ".join(f"w{i}" for i in range(400))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n = winnow_fingerprints(df, k=5, window=8).count()
    # expected density ~= 2/(w+1) per gram; allow generous slack
    assert 2 * 396 // 9 * 0.4 < n < 396


def test_pure_map_plan(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = (
        winnow_fingerprints(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_bad_params(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        winnow_fingerprints(df, window=0)
