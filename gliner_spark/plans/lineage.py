"""Checkpoint-resume via a fingerprint marker + lineage and per-file
metrics tables.

The reference has no resumability (SURVEY §2.10); the north rule requires
"checkpoint-resumable with per-partition lineage and metrics tables". A
stage commits marker-last, and its bookkeeping reads only metadata that
the write already left behind, so a computed stage runs no Spark job
beyond its write:

 1. its output overwrites out_dir/<stage>, deleting the old marker;
 2. the driver reads the row count from the Parquet footer of every data
    file under the stage dir, partition subdirs included: one `_metrics`
    row per file (partition_id = the file's ordinal in sorted path order,
    the per-write-task skew diagnostic) whose sum is the stage's n_rows;
 3. one `_lineage` row (stage, fingerprint, status, n_rows, n_partitions
    = the number of data files, wall_s, completed_at) is appended;
 4. out_dir/<stage>/_FINGERPRINT is written with a JSON object holding
    the fingerprint and the schema the stage reads back with.

Steps 2-4 write from the driver through plans/commit.py's atomic write
(the protocol is stated there): no bookkeeping row goes through a
pickled Python RDD, and no reader sees half a file.

The read-back never infers a schema, because Parquet schema inference is
a Spark job. It declares the produced frame's data columns (all nullable,
as Parquet stores them) and lets partition discovery, which lists
directories on the driver, append the partition columns with the types it
infers from the directory names. Those can differ from the frame's own
(a `bigint` shard reads back as `int`), which is why the marker stores the
read-back schema rather than the produced one. An output with no
partition directory (an empty partitioned stage) gets its partition
columns with the frame's declared types.

The fingerprint hashes the stage name + config + upstream fingerprints, so
any input/config change invalidates exactly the downstream suffix of the
DAG. A stage resumes iff its marker holds the fingerprint: the marker is
the commit record, resume scans no lineage, and it reads the output with
the marker's schema, so it runs no Spark job either. A marker that is not
such a JSON object counts as uncommitted. A crash before step 4 leaves
the stage uncommitted, so the rerun recomputes it. A crash between steps
3 and 4 leaves one truthful `complete` lineage row for a stage that will
then rerun and append its own.

Stages may run at once. `StageRunner.submit` starts a stage on its own
driver thread as soon as the stages it reads have committed, so the
stage DAG's width, not a knob, sets how many stages overlap. Each thread
inherits the submitting thread's Spark local properties (job group,
description, scheduler pool), and its body is `run_stage`, the one
commit path. Every stage writes its own directory and appends its own
uniquely named lineage and metrics files, so concurrent stages share no
file. Lineage rows therefore land in completion order, not declaration
order; `completed_at` orders them.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import threading
import time
import uuid
from concurrent.futures import Future
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .commit import write_atomic, write_text

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_partitions", T.IntegerType(), False),
        T.StructField("wall_s", T.DoubleType(), False),
        T.StructField("completed_at", T.TimestampType(), False),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
)

_MARKER = "_FINGERPRINT"


def fingerprint(stage: str, *parts: object) -> str:
    blob = json.dumps([stage, *[repr(p) for p in parts]], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _append_rows(directory: str, schema: T.StructType, rows: list[dict]) -> None:
    """Append rows to a parquet table as one new file, from the driver."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    write_atomic(
        directory,
        f"part-{uuid.uuid4().hex}.parquet",
        lambda tmp: pq.write_table(table, tmp),
    )


def _hidden(name: str) -> bool:
    """Spark's rule for paths a file source never lists."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[str]:
    """Every data file of a Parquet output, partition subdirs included,
    in sorted path order."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not _hidden(f)
        ]
    return sorted(out)


def _committed_schema(path: str, fp: str) -> T.StructType | None:
    """The read-back schema in path's marker if the marker commits fp,
    else None: no marker, another fingerprint, or a marker that is not a
    {"fingerprint", "schema"} object (a torn or older-format one)."""
    try:
        marker = json.loads(Path(path, _MARKER).read_text())
    except (FileNotFoundError, ValueError):
        return None
    if not isinstance(marker, dict) or marker.get("fingerprint") != fp:
        return None
    return T.StructType.fromJson(marker["schema"])


class StageRunner:
    """Runs named stages with skip-if-committed resume semantics."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.lineage_path = os.path.join(out_dir, "_lineage")
        self.metrics_path = os.path.join(out_dir, "_metrics")
        self._threads: list[threading.Thread] = []

    def run_stage(
        self,
        stage: str,
        fp: str,
        produce,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """produce: () -> DataFrame. Writes out_dir/<stage> unless its
        _FINGERPRINT marker already holds fp, in which case the persisted
        output is read back untouched (resume)."""
        path = os.path.join(self.out_dir, stage)
        schema = _committed_schema(path, fp)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)

        t0 = time.time()
        df = produce()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        produced, parts = df.schema, partition_by or []
        files = _data_files(path)
        fields = [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in produced
            if f.name not in parts
        ]
        if not files:
            # no partition directory to discover: declare the frame's types
            fields += [T.StructField(c, produced[c].dataType) for c in parts]
        out = self.spark.read.schema(T.StructType(fields)).parquet(path)
        counts = [pq.read_metadata(f).num_rows for f in files]
        _append_rows(
            self.metrics_path,
            METRICS_SCHEMA,
            [
                {"stage": stage, "fingerprint": fp, "partition_id": pid, "n_rows": n}
                for pid, n in enumerate(counts)
            ],
        )
        _append_rows(
            self.lineage_path,
            LINEAGE_SCHEMA,
            [
                {
                    "stage": stage,
                    "fingerprint": fp,
                    "status": "complete",
                    "n_rows": sum(counts),
                    "n_partitions": len(files),
                    "wall_s": time.time() - t0,
                    "completed_at": datetime.datetime.now(datetime.timezone.utc),
                }
            ],
        )
        write_text(
            path,
            _MARKER,
            json.dumps({"fingerprint": fp, "schema": out.schema.jsonValue()}),
        )
        return out

    def submit(self, stage: str, fp: str, produce, *inputs: Future) -> Future:
        """Start `stage` on its own driver thread → a Future of its frame.
        The thread waits for every input future, then runs `run_stage`
        with produce(*input frames). A failed input fails the stage with
        the input's error, before anything of the stage runs. `join`
        waits for every submitted stage."""
        done: Future = Future()

        def body():
            try:
                frames = [f.result() for f in inputs]
                done.set_result(
                    self.run_stage(stage, fp, lambda: produce(*frames))
                )
            except BaseException as exc:
                done.set_exception(exc)

        thread = threading.Thread(
            target=inheritable_thread_target(self.spark)(body),
            name=f"stage:{stage}",
        )
        self._threads.append(thread)
        thread.start()
        return done

    def join(self, stages: list[Future]) -> list[DataFrame]:
        """Wait until every submitted stage has settled and its thread has
        ended → the frames of `stages`. Raises the error of the first
        failed one in `stages`' order; a stage that failed because an
        input did carries that input's error."""
        for thread in self._threads:
            thread.join()
        self._threads.clear()
        return [f.result() for f in stages]

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_path)
