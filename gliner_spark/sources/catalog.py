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
            from pyspark.sql import functions as F

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


def zorder_key(
    df: DataFrame,
    cols: tuple[str, ...],
    bits: int = 8,
    method: str = "exact",
) -> DataFrame:
    """Append `_zkey`: the Morton/Z-order interleave of each column's
    `bits`-bit rank bucket — the multi-column data-skipping layout key
    (Delta OPTIMIZE ZORDER BY, Iceberg sort orders). Sorting files by
    one column makes its min/max footer ranges narrow but leaves every
    OTHER column's ranges full-width; sorting by the Z-curve makes
    ALL participating columns' per-file ranges narrow simultaneously,
    so predicate-pushdown row-group pruning works on any of them.

    method='exact': buckets from `ntile(2^bits)` per column — rank-
    exact, but each column's window is a PARTITIONLESS sort (one task
    holds every row). Fine up to ~10⁷ rows; it is NOT the 100 TB path.

    method='approx' (the scale path): 2^bits−1 cut points per column
    from `approxQuantile` (one pass, relative error 1e-3), riding as
    a ONE-ROW broadcast-joined array column (CLAUDE.md: big constant
    tensors never as expression literals); bucket = count of cuts ≤
    value, a linear array fold — fully distributed, no global window.
    Bucket edges are approximate, which perturbs layout only at bucket
    boundaries; the skipping property is unchanged.
    """
    if not cols or len(cols) > 4:
        raise ValueError("1..4 z-order columns supported")
    if bits * len(cols) > 63:
        # bit position bits*m-1 would reach the int64 sign bit and the
        # highest-Z rows would sort FIRST — corrupt layout, no error
        raise ValueError("bits * len(cols) must be <= 63")
    from pyspark.sql import Window as _W

    n = 1 << bits
    out = df
    if method == "exact":
        for i, c in enumerate(cols):
            out = out.withColumn(
                f"_zb{i}",
                (F.ntile(n).over(_W.orderBy(F.col(c))) - 1).cast("long"),
            )
    elif method == "approx":
        cuts = {
            c: df.approxQuantile(
                c, [j / n for j in range(1, n)], 1e-3
            )
            for c in cols
        }
        carrier = df.sparkSession.createDataFrame(
            [tuple([float(v) for v in cuts[c]] for c in cols)],
            ", ".join(f"_cut{i} array<double>" for i in range(len(cols))),
        )
        out = out.crossJoin(F.broadcast(carrier))
        for i, c in enumerate(cols):
            # single-parameter lambda only (a second parameter selects
            # pyspark's (element, index) HOF variant); F.filter
            # consumes it eagerly, so closing over the loop var is safe
            bound = F.col(c).cast("double")
            out = out.withColumn(
                f"_zb{i}",
                F.least(
                    F.size(
                        F.filter(F.col(f"_cut{i}"), lambda x: x <= bound)
                    ).cast("long"),
                    F.lit(n - 1).cast("long"),
                ),
            ).drop(f"_cut{i}")
    else:
        raise ValueError("method must be 'exact' or 'approx'")
    m = len(cols)
    # interleave bit b of column i at position b*m + i
    parts = []
    for i in range(m):
        expr = F.lit(0).cast("long")
        for b in range(bits):
            expr = expr + (
                F.shiftleft(
                    F.shiftright(F.col(f"_zb{i}"), b) % 2, b * m + i
                )
            )
        parts.append(expr)
    zkey = parts[0]
    for p in parts[1:]:
        zkey = zkey + p
    return out.withColumn("_zkey", zkey).drop(
        *[f"_zb{i}" for i in range(m)]
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, ...],
    n_files: int = 16,
    bits: int = 8,
    method: str = "exact",
) -> None:
    """Write `df` as `n_files` parquet files range-partitioned and
    sorted along the Z-curve of `cols`: every file covers a compact
    Z-range, so its parquet footer min/max for EACH participating
    column is narrow and a selective predicate on any of them prunes
    most files before reading a row. The `_zkey` column is dropped
    from the output — it is a layout device, not data.

    Pass method='approx' beyond ~10⁷ rows: the exact ntile key
    assignment is a one-task window per column (see `zorder_key`),
    while the approx path is one approxQuantile pass + a distributed
    array fold — the final repartitionByRange write is the only
    global movement either way."""
    keyed = zorder_key(df, cols, bits=bits, method=method)
    (
        keyed.repartitionByRange(int(n_files), F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
