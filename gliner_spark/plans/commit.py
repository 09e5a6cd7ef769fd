"""Marker-last commit protocol shared by every file-backed store.

A store keeps its state as parts: a directory of data files (a rank
generation `bN`, a linking generation `gN`, a stage output) plus a small
marker file (`_meta_bN.json`, `_meta_gN.json`, `_FINGERPRINT`). A named
store lives at `store_dir(spark, name)`, under the warehouse. The
protocol:

 * a part is visible iff its marker exists;
 * the marker is written LAST and atomically (`write_atomic`): a reader
   sees no marker or the whole one, never a torn one, so a crash at any
   point leaves only a markerless directory that readers ignore and a
   rerun overwrites;
 * GC removes the marker BEFORE the directory (`drop_dead`), so a crash
   mid-GC also leaves only a markerless directory.

Which markerless directories are dead is each store's policy, because
it depends on who else may be writing: a single writer may drop every
part but the one it just committed, while a store with concurrent folds
must keep ids an in-flight fold may still commit.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid


def store_dir(spark, name: str) -> str:
    """The directory `<warehouse>/<name>` of a named store: every driver
    on the same warehouse finds it where the last one left it."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return os.path.join(wh, name)


def write_atomic(directory: str, name: str, write) -> None:
    """write(tmp) to a uniquely named, dot-prefixed temp file in
    directory (Spark and `committed` never list it), then rename it to
    directory/name atomically. Concurrent writers never share a temp
    file, and a failed write leaves nothing under `name`."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{uuid.uuid4().hex}.tmp")
    try:
        write(tmp)
        os.replace(tmp, os.path.join(directory, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def write_text(directory: str, name: str, text: str) -> None:
    """`write_atomic` of a text file: a marker or a JSON sidecar."""

    def write(tmp):
        with open(tmp, "w") as f:
            f.write(text)

    write_atomic(directory, name, write)


def _ids(directory: str, pattern: str) -> dict[int, str]:
    """{id: name} for the entries of directory named pattern.format(id)."""
    rx = re.compile(re.escape(pattern).replace(r"\{\}", "([0-9]+)"))
    try:
        names = os.listdir(directory)
    except FileNotFoundError:
        return {}
    return {int(m[1]): m[0] for m in map(rx.fullmatch, names) if m}


def committed(directory: str, marker: str) -> dict[int, object]:
    """{id: payload} for the committed markers marker.format(id) in
    directory. The payload is the marker's parsed JSON for a `.json`
    marker, else its text."""
    out = {}
    for i, name in _ids(directory, marker).items():
        with open(os.path.join(directory, name)) as f:
            text = f.read()
        out[i] = json.loads(text) if name.endswith(".json") else text
    return out


def drop_dead(directory: str, marker: str, part: str, dead) -> None:
    """GC every part id in directory for which dead(id) holds, whether
    it has a marker or only a directory: the marker marker.format(id)
    first, then the directory part.format(id)."""
    ids = _ids(directory, marker).keys() | _ids(directory, part).keys()
    for i in ids:
        if dead(i):
            try:
                os.remove(os.path.join(directory, marker.format(i)))
            except FileNotFoundError:
                pass
            shutil.rmtree(
                os.path.join(directory, part.format(i)), ignore_errors=True
            )
