"""Table IO: Iceberg when available, parquet otherwise — one code path.

The north rule targets Iceberg tables. This sandbox has no Iceberg runtime
jar on the classpath, so `iceberg_available()` detects at session build and
the writer transparently falls back to partitioned parquet under a
directory catalog; the LOGICAL layout (partition spec, snapshot-style
overwrite, stable table names) is identical, and the lineage table
(sinks.py) plays the role of snapshot ids for resume. On a real cluster
with `spark.sql.catalog.*` configured, the same calls hit Iceberg
`writeTo(...).createOrReplace()` with `bucket(conv_id)` partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: SLF001
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    out_dir: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Write a named table; returns its path (or identifier)."""
    spark = df.sparkSession
    if iceberg_available(spark) and "/" not in out_dir:
        writer = df.writeTo(f"{out_dir}.{name}")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return f"{out_dir}.{name}"
    path = os.path.join(out_dir, name)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return path


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and sorted) on the join key — the
    co-located-join layout for repeated large⋈large joins.

    Two tables bucketed identically on the same key join WITHOUT an
    Exchange on either side (Spark reads each bucket pair directly), which
    at 10^12 rows removes the dominant shuffle from e.g.
    entities ⋈ triples ⋈ transcripts pipelines that all key on conv_id.
    The Iceberg equivalent is a `bucket(N, conv_id)` partition transform;
    this is the portable parquet-table form (metastore-registered, so the
    bucketing metadata survives and the reader can exploit it).
    """
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
