"""SparkSession factory tuned for the engine.

The reference creates ad-hoc sessions per entry point
(``/root/reference/main.py:13-15``, ``feature extraction.py:102-105``).
Here one factory pins the settings every operator relies on:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for some stage.
- Arrow on — every Python-side kernel is an Arrow-batched pandas UDF, never
  a pickled row loop like the reference's ``df.rdd.map`` path.
- UTC session timezone — parquet timestamps compare identically across
  engines (DuckDB oracle parity).
- Python workers import pyspark from site-packages. Spark puts its
  pyspark.zip, py4j zip and spark-core jar first on every worker's
  ``PYTHONPATH``, and each worker call's ``importlib.invalidate_caches()``
  makes CPython 3.11 re-read those archives' directories (0.12-0.18 s per
  call). ``worker_site/sitecustomize.py`` drops them at worker start-up
  when the installed pyspark and py4j match the archives' versions, and
  leaves the path alone otherwise. It goes on the workers' ``PYTHONPATH``
  through ``spark.executorEnv`` (``sc.environment``), the one setting
  that reaches both task workers and the Python data source planner
  workers the JVM starts from the stock ``pyspark.daemon``
  (``spark.python.daemon.module`` reaches task workers only). Measured on
  4 cores: ifc_outlier job p50 2.77-3.16 s -> 1.77-2.06 s (README,
  "Python worker start-up").
- Driver heap defaults to half the host's memory, at most 16g
  (``SPARK_DRIVER_MEM`` overrides): a fixed 16g on a 16 GB host without
  swap let the kernel OOM-kill the JVM mid-run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "worker_site")


def default_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """Half the host's physical memory, at most 16g (16g when unknown)."""
    cap_mb = 16 * 1024
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return f"{cap_mb}m"
    return f"{min(total // 2 // 2**20, cap_mb)}m"


def get_spark(app_name: str = "big_data_science_project_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned local session.

    ``shuffle_partitions`` defaults to the core count: on local[N] there is
    no network shuffle, so partitions ≈ cores minimizes task overhead; on a
    real cluster this would be sized to keep post-shuffle partitions in the
    100-200 MB range (AQE coalesces down when the default is too high).
    """
    n = cpus or default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in the loader (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-less parquet timestamps (timestamp[us]) must stay instants
        # (TIMESTAMP, UTC session) — NTZ would break unix_micros/watermarks
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM",
                                                   default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the Python side of spark.executorEnv.*: every Python function (UDFs,
    # data sources) carries it to the workers that run it
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if WORKER_SITE not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [WORKER_SITE])
    return spark
