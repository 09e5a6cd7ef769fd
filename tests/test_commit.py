"""Marker-last commit protocol (plans/commit.py) across the file-backed
stores: a crash while a marker's content is written leaves the previous
committed state readable, compaction GC sweeps markerless dead parts,
and concurrent package-zip builds never share a temp file."""

import builtins
import os
import shutil
import tempfile
import threading
import zipfile

import pytest

from gliner_spark.operators.retrieval import (
    bm25_against_index,
    build_bm25_index,
)
from gliner_spark.operators.sketches import (
    build_countmin,
    current_countmin,
    fold_countmin_batch,
)
from gliner_spark.streaming.bm25 import compact_bm25_index, fold_index_batch

BASE = [
    (0, "spark shuffle join spark spark"),
    (1, "window scan filter table"),
    (2, "spark window window table row"),
]
B0 = [(10, "spark table spark"), (11, "join window join")]
B1 = [(12, "window spark window"), (13, "")]
B2 = [(20, "spark window spark window")]
WORDS = [f"w{i % 37}" for i in range(300)] + ["hot"] * 100


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rank(spark, path):
    return [
        (r.doc_id, r.score, r.rk)
        for r in bm25_against_index(
            spark, path, ["spark", "window"], top_k=10
        ).collect()
    ]


def _rebuilt_rank(spark, tmp_path, rows):
    full = str(tmp_path / "full")
    build_bm25_index(_docs(spark, rows), full, n_buckets=8)
    return _rank(spark, full)


def _tear_writes(monkeypatch, torn):
    """Make every text-mode write whose data satisfies torn(data) raise,
    as a crash while that file's content is being written would."""
    real_open = builtins.open

    class Torn:
        def __init__(self, f):
            self._f = f

        def write(self, data):
            if isinstance(data, str) and torn(data):
                raise OSError("injected crash while writing a marker")
            return self._f.write(data)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return self._f.__exit__(*exc)

        def __getattr__(self, name):
            return getattr(self._f, name)

    def fake_open(file, mode="r", *args, **kwargs):
        f = real_open(file, mode, *args, **kwargs)
        return Torn(f) if "w" in mode and "b" not in mode else f

    monkeypatch.setattr(builtins, "open", fake_open)


def _bm25_segment(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_docs(spark, BASE), path, n_buckets=8)
    fold_index_batch(_docs(spark, B0), 0, path)
    return (
        lambda: fold_index_batch(_docs(spark, B1), 1, path),
        lambda: _rank(spark, path),
        lambda: _rebuilt_rank(spark, tmp_path, BASE + B0 + B1),
        os.path.join(path, "_stream", "_meta_b1.json"),
        lambda data: '"batch_id"' in data,
    )


def _bm25_compaction(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_bm25_index(_docs(spark, BASE), path, n_buckets=8)
    fold_index_batch(_docs(spark, B0), 0, path)
    compact_bm25_index(spark, path)
    fold_index_batch(_docs(spark, B1), 1, path)
    return (
        lambda: compact_bm25_index(spark, path),
        lambda: _rank(spark, path),
        lambda: _rebuilt_rank(spark, tmp_path, BASE + B0 + B1),
        os.path.join(path, "_compacted", "_meta_g1.json"),
        lambda data: '"max_batch"' in data,
    )


def _sketch_generation(spark, tmp_path):
    state = str(tmp_path / "cms")

    def words(ws):
        return spark.createDataFrame([(w,) for w in ws], "word string")

    def counters(df):
        return sorted((r["d"], r["bucket"], r["n"]) for r in df.collect())

    a, b = WORDS[:150], WORDS[150:]
    fold_countmin_batch(words(a), state, "word", width=64)
    return (
        lambda: fold_countmin_batch(words(b), state, "word", width=64),
        lambda: counters(current_countmin(spark, state)),
        lambda: counters(build_countmin(words(a + b), "word", width=64)),
        os.path.join(state, "_gen=1.ok"),
        lambda data: data == "ok",
    )


@pytest.mark.parametrize(
    "store", [_bm25_segment, _bm25_compaction, _sketch_generation]
)
def test_torn_marker_write_keeps_previous_state(
    spark, tmp_path, monkeypatch, store
):
    fold, read, want, marker, torn = store(spark, tmp_path)
    before = read()
    _tear_writes(monkeypatch, torn)
    with pytest.raises(OSError, match="injected crash"):
        fold()
    monkeypatch.undo()
    assert read() == before
    assert not os.path.exists(marker)
    fold()
    assert os.path.exists(marker)
    assert read() == want()


def test_compaction_sweeps_markerless_dead_parts(spark, tmp_path):
    """A GC killed between a marker's removal and its directory's rmtree
    leaves a markerless folded segment or superseded generation: the
    next compaction must delete it. A markerless segment above the
    watermark may be an in-flight fold and must survive."""
    path = str(tmp_path / "idx")
    comp_dir = os.path.join(path, "_compacted")
    stream_dir = os.path.join(path, "_stream")
    build_bm25_index(_docs(spark, BASE), path, n_buckets=8)
    fold_index_batch(_docs(spark, B0), 0, path)
    fold_index_batch(_docs(spark, B1), 1, path)
    assert compact_bm25_index(spark, path) == 2
    saved = str(tmp_path / "saved_gen0")
    shutil.copytree(os.path.join(comp_dir, "gen=0"), saved)
    fold_index_batch(_docs(spark, B2), 2, path)
    assert compact_bm25_index(spark, path) == 1
    shutil.copytree(saved, os.path.join(comp_dir, "gen=0"))
    shutil.copytree(saved, os.path.join(stream_dir, "batch=0"))
    fold_index_batch(_docs(spark, [(99, "spark spark spark")]), 99, path)
    os.remove(os.path.join(stream_dir, "_meta_b99.json"))

    assert compact_bm25_index(spark, path) == 0
    assert not os.path.exists(os.path.join(comp_dir, "gen=0"))
    assert not os.path.exists(os.path.join(stream_dir, "batch=0"))
    assert os.path.isdir(os.path.join(stream_dir, "batch=99"))
    assert _rank(spark, path) == _rebuilt_rank(
        spark, tmp_path, BASE + B0 + B1 + B2
    )


def test_concurrent_package_zip_builds(monkeypatch, tmp_path, tmp_path_factory):
    """Two threads building the package zip at the same moment must
    both return a valid zip: each writes its own temp file."""
    from gliner_spark.plans.session import build_package_zip

    # the zip is content-keyed: learn its name from a build elsewhere,
    # then race two builds into the empty tmp_path
    probe = str(tmp_path_factory.mktemp("probe"))
    monkeypatch.setattr(tempfile, "gettempdir", lambda: probe)
    name = os.path.basename(build_package_zip())
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    zip_path = tmp_path / name

    barrier = threading.Barrier(2, timeout=60)
    waited = set()
    real_write = zipfile.ZipFile.writestr

    def write(self, *args, **kwargs):
        if threading.get_ident() not in waited:
            waited.add(threading.get_ident())
            barrier.wait()  # both threads are now mid-write
        return real_write(self, *args, **kwargs)

    monkeypatch.setattr(zipfile.ZipFile, "writestr", write)
    results, errors = [], []

    def build():
        try:
            results.append(build_package_zip())
        except Exception as e:  # noqa: BLE001 - surfaced by the assert
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert results == [str(zip_path)] * 2
    with zipfile.ZipFile(zip_path) as zf:
        assert zf.testzip() is None
        assert "gliner_spark/__init__.py" in zf.namelist()
    assert os.listdir(tmp_path) == [zip_path.name]


def test_package_zip_holds_its_own_tree(monkeypatch, tmp_path):
    """Two package copies sharing one temp dir each ship their own
    bytes, even when the copy with older files builds second."""
    import time

    import gliner_spark
    from gliner_spark.plans.session import build_package_zip

    src = os.path.dirname(os.path.abspath(gliner_spark.__file__))
    trees = {}
    for name, mtime in (("newer", time.time()), ("older", 1e9)):
        pkg = tmp_path / name / "gliner_spark"
        shutil.copytree(src, pkg, ignore=shutil.ignore_patterns("__pycache__"))
        if name == "newer":  # one worker-side line differs
            ner = pkg / "operators" / "ner.py"
            code = ner.read_text()
            ner.write_text(code.replace("labels[ci]", "labels[ci] + '_x'", 1))
            assert ner.read_text() != code
        for root, _d, files in os.walk(pkg):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        trees[name] = pkg

    shared = str(tmp_path / "tmp")
    monkeypatch.setattr(tempfile, "gettempdir", lambda: shared)
    zips = {}
    for name in ("newer", "older"):
        monkeypatch.setattr(
            gliner_spark, "__file__", str(trees[name] / "__init__.py")
        )
        zips[name] = build_package_zip()
    for name, pkg in trees.items():
        with zipfile.ZipFile(zips[name]) as zf:
            for rel in ("operators/ner.py", "plans/session.py"):
                assert zf.read(f"gliner_spark/{rel}") == (pkg / rel).read_bytes()
