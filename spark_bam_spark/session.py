"""SparkSession factory.

Tuned for the harness (local[N] single JVM) but with settings that carry to
a real cluster: AQE on (runtime re-planning, skew-join handling, partition
coalescing), Arrow for the Python boundary, UTC session timezone so results
are comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may use.  Scans
    plan splits in waves of the session's ``defaultParallelism``, so a
    ``local[N]`` wider than the CPUs would oversubscribe every wave."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return os.environ["SPARK_GRAFT_CPUS"]
    if hasattr(os, "sched_getaffinity"):
        return str(len(os.sched_getaffinity(0)))
    return str(os.cpu_count() or 1)


DEFAULT_SHUFFLE_PARTITIONS = _cpus()


def get_spark(app_name: str = "spark_bam_spark", shuffle_partitions: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster ``master`` comes from spark-submit; here we default to
    local[$SPARK_GRAFT_CPUS], or local[<CPUs this process may use>] when
    that is unset. shuffle partitions default to core count —
    the right size for local mode; at 100 TB scale this is overridden per
    job (AQE coalescing makes over-provisioning cheap).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # unqualified `timestamp` resolves to LTZ so epoch arithmetic
        # (unix_micros over a cast) is conf-independent; NTZ→LTZ is exact
        # under the pinned UTC timezone
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in tables.table()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # UI off by default (headless harness); SPARK_GRAFT_UI=1 turns it
        # on so measurement tools can read per-job timings from the REST
        # API (perfbench/tracing.py) — no effect on any query
        .config("spark.ui.enabled", "true" if os.environ.get("SPARK_GRAFT_UI") else "false")
        # perfbench sets SPARK_GRAFT_WAREHOUSE so that Spark's files stay
        # under .perfbench/
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_bam_spark_warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make spark_bam_spark importable on Python workers (mapInPandas
    and UDF closures unpickle there). addPyFile is the
    cluster-correct distribution path; local workers need it too whenever
    the driver's cwd isn't the repo root."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"spark_bam_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
