"""SparkSession builder with the scale-oriented defaults this engine assumes.

Tuned for the 100 TB design point, testable on local[N]:
 - AQE on (runtime coalescing + skew-join splitting — the conv_id skew
   mitigation SURVEY §4 calls out),
 - Arrow batches bounded so the scoring UDF's dense (B, L, K, C) working
   set stays in executor memory,
 - shuffle partition count sized to cores (callers override for clusters).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from .commit import write_atomic


def build_package_zip() -> str:
    """Build the gliner_spark zip for --py-files shipping.

    The zip is named by a sha256 over the package's sorted (relpath,
    bytes) `.py` sources, so two checkouts sharing one temp dir never
    ship each other's code, whatever their files' mtimes. It is built
    only when absent, from exactly the bytes that were hashed. Other
    zips are left alone: a concurrent run may be shipping them.
    """
    import gliner_spark

    pkg_dir = os.path.dirname(os.path.abspath(gliner_spark.__file__))
    sources = []
    for root, _d, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    sources.append((os.path.relpath(full, pkg_dir), fh.read()))
    sources.sort()
    digest = hashlib.sha256()
    for rel, data in sources:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"gliner_spark-{gliner_spark.__version__}-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):

        def write(tmp):
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
                for rel, data in sources:
                    zf.writestr(os.path.join("gliner_spark", rel), data)

        write_atomic(*os.path.split(zip_path), write)
    return zip_path


def ship_package(spark: SparkSession) -> str:
    """Ship gliner_spark to executors (programmatic --py-files).

    Python workers don't inherit the driver's sys.path; without this,
    mapInArrow closures referencing gliner_spark fail with
    ModuleNotFoundError on any non-repo cwd or real cluster.
    """
    zip_path = build_package_zip()
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def _set_worker_env_defaults() -> None:
    """Env the python workers must inherit (set before the JVM spawns).

    - single-threaded BLAS: 1 worker per core; nested BLAS threads only
      oversubscribe;
    - glibc malloc mmap/trim thresholds raised: numpy's multi-MB scoring
      temporaries otherwise mmap+munmap on every chunk, and munmap's TLB
      shootdown IPIs serialize ALL cores — measured 80%+ system time and
      ~2× per-row dilation at 32 workers on this box before the fix;
    - Arrow system allocator: routes pyarrow buffers through the same
      (now well-behaved) glibc malloc.
    """
    for k, v in _WORKER_ENV.items():
        os.environ.setdefault(k, v)


_WORKER_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def worker_env_confs() -> dict[str, str]:
    """The same worker env as `spark.executorEnv.*` conf entries.

    Under `spark-submit` the JVM is already running before any of our
    python executes, so `os.environ` mutation cannot reach the python
    workers — but PythonWorkerFactory passes `spark.executorEnv.*` into
    the worker daemon env even in local mode, so routing the env through
    session conf works from ANY launcher. Without this, a spark-submit
    run from a shell that didn't export the vars silently loses the
    malloc/Arrow tuning: measured 29.5s → 325s on the pipeline's
    canon_map stage (munmap TLB storms are back) before this fix.
    """
    return {
        f"spark.executorEnv.{k}": os.environ.get(k, v)
        for k, v in _WORKER_ENV.items()
    }


def build_session(
    app_name: str = "gliner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8192,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _set_worker_env_defaults()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ≥4× parallelism so local[8] vs local[32] scaling runs are both
        # parallelism-bound, not partition-bound (SURVEY §7.3)
        shuffle_partitions = 128 if master.startswith("local") else 2048
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in worker_env_confs().items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def widen_small_input(df, min_parts: int | None = None):
    """Parallelize a narrow scan: a small single-file (single-row-group)
    parquet input arrives as ONE partition, so every downstream per-row
    expression (regex tokenization, shingling, vector math) runs on one
    core no matter how many the session has — measured 20s+ single-core
    tails on the sf0.1 bench. Repartitioning the raw rows is a trivially
    cheap shuffle at that size.

    Guarded to be a NO-OP at scale: production inputs already carry at
    least as many splits as cores, so this never adds a shuffle where the
    scan is wide enough."""
    spark = df.sparkSession
    if min_parts is None:
        min_parts = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(min_parts)
