"""Marker-last commit protocol (plans/commit.py): a crash while a
marker's content is written leaves the previous committed state
readable, GC removes a marker before its part and sweeps markerless
dead parts, and concurrent package-zip builds never share a temp
file."""

import builtins
import json
import os
import shutil
import tempfile
import threading
import zipfile

import pytest
from pyspark.sql import Row

from gliner_spark.operators.graph import pagerank
from gliner_spark.plans import commit
from gliner_spark.streaming.graphrank import current_ranks, fold_edge_batch

# irregular degrees, so the ranks are not trivially uniform
EDGES = sorted({((i * i + i) % 13, (i * 7 + 2) % 17) for i in range(40)})
MORE = [(0, 16), (16, 2), (5, 16)]
TOL = 1e-10


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


def _rank_generation(spark, tmp_path):
    """streaming/graphrank's store: a fold commits rank generation
    `b1` with the JSON marker `_meta_b1.json`."""
    base = f"commit_gr_{tmp_path.name}"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    store = os.path.join(wh, base)
    shutil.rmtree(store, ignore_errors=True)

    def edges(pairs):
        return spark.createDataFrame([Row(src=s, dst=d) for s, d in pairs])

    def ranks(df):
        return {r.entity_id: r.rank for r in df.collect()}

    fold_edge_batch(edges(EDGES), 0, base, tol=TOL)
    return (
        lambda: fold_edge_batch(edges(MORE), 1, base, tol=TOL),
        lambda: ranks(current_ranks(spark, base)),
        lambda: ranks(
            pagerank(
                edges(EDGES + MORE), max_iter=100, tol=TOL,
                src_col="src", dst_col="dst",
            )
        ),
        os.path.join(store, "_meta_b1.json"),
        lambda data: '"shards"' in data,
        lambda: shutil.rmtree(store, ignore_errors=True),
    )


@pytest.mark.parametrize("store", [_rank_generation])
def test_torn_marker_write_keeps_previous_state(
    spark, tmp_path, monkeypatch, store
):
    fold, read, want, marker, torn, cleanup = store(spark, tmp_path)
    try:
        before = read()
        _tear_writes(monkeypatch, torn)
        with pytest.raises(OSError, match="injected crash"):
            fold()
        monkeypatch.undo()
        assert read() == before
        assert not os.path.exists(marker)
        fold()
        assert os.path.exists(marker)
        assert read() == pytest.approx(want(), abs=1e-7)
    finally:
        cleanup()


def test_compaction_sweeps_markerless_dead_parts(tmp_path, monkeypatch):
    """drop_dead, the GC step after a compaction, removes dead ids with
    or without a marker, and removes a marker before its part: a GC
    killed between the two leaves only a markerless part, invisible to
    `committed`, that the next GC sweeps. Live ids keep their parts,
    markerless or not."""
    d = str(tmp_path)
    marker, part = "_meta_b{}.json", "b{}"
    for i in range(5):
        os.makedirs(os.path.join(d, part.format(i)))
        if i < 3:  # parts 3 and 4 are markerless
            commit.write_text(d, marker.format(i), json.dumps({"id": i}))
    assert commit.committed(d, marker) == {i: {"id": i} for i in range(3)}

    def crash(path, ignore_errors=False):
        raise OSError("injected crash between marker and part removal")

    monkeypatch.setattr(commit.shutil, "rmtree", crash)
    with pytest.raises(OSError, match="injected crash"):
        commit.drop_dead(d, marker, part, lambda i: i == 0)
    monkeypatch.undo()
    assert commit.committed(d, marker) == {i: {"id": i} for i in (1, 2)}
    assert os.path.isdir(os.path.join(d, part.format(0)))

    commit.drop_dead(d, marker, part, lambda i: i in (0, 1, 3))
    assert commit.committed(d, marker) == {2: {"id": 2}}
    assert sorted(os.listdir(d)) == ["_meta_b2.json", "b2", "b4"]


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
