"""Checkpoint-resume via a fingerprint marker + lineage and per-partition
metrics tables.

The reference has no resumability (SURVEY §2.10); the north rule requires
"checkpoint-resumable with per-partition lineage and metrics tables". A
stage commits marker-last:

 1. its output overwrites out_dir/<stage>, deleting the old marker;
 2. one Spark job counts the read-back output per read partition
    (spark_partition_id()): those rows go to `_metrics` (the skew
    diagnostic for free) and their sum is the stage's n_rows;
 3. one `_lineage` row (stage, fingerprint, status, n_rows, n_partitions,
    wall_s, completed_at) is appended;
 4. out_dir/<stage>/_FINGERPRINT is written with the fingerprint.

Steps 2-4 write from the driver through plans/commit.py's atomic write
(the protocol is stated there): no bookkeeping row goes through a
pickled Python RDD, and no reader sees half a file.

The fingerprint hashes the stage name + config + upstream fingerprints, so
any input/config change invalidates exactly the downstream suffix of the
DAG. A stage resumes iff its marker holds the fingerprint: the marker is
the commit record, and resume scans no lineage. A crash before step 4
leaves the stage uncommitted, so the rerun recomputes it. A crash between
steps 3 and 4 leaves one truthful `complete` lineage row for a stage that
will then rerun and append its own.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


class StageRunner:
    """Runs named stages with skip-if-committed resume semantics."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        self.lineage_path = os.path.join(out_dir, "_lineage")
        self.metrics_path = os.path.join(out_dir, "_metrics")

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
        try:
            committed = Path(path, _MARKER).read_text().strip()
        except FileNotFoundError:
            committed = None
        if committed == fp:
            return self.spark.read.parquet(path)

        t0 = time.time()
        w = produce().write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        out = self.spark.read.parquet(path)
        counts = sorted(out.groupBy(F.spark_partition_id()).count().collect())
        _append_rows(
            self.metrics_path,
            METRICS_SCHEMA,
            [
                {"stage": stage, "fingerprint": fp, "partition_id": pid, "n_rows": n}
                for pid, n in counts
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
                    "n_rows": sum(n for _pid, n in counts),
                    "n_partitions": out.rdd.getNumPartitions(),
                    "wall_s": time.time() - t0,
                    "completed_at": datetime.datetime.now(datetime.timezone.utc),
                }
            ],
        )
        write_text(path, _MARKER, fp)
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.metrics_path)
