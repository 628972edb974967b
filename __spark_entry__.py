"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``spark_bam_spark.queries.REGISTRY`` — every implemented
operator from SURVEY.md §2 is registered there with its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_bam_spark.queries import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the qa2500 BAM fixture's read count through the
    bamjvm scan next to its sidecar truth count (one row); the driver
    checks rows>0. The BAM queries read their own fixtures and ignore
    ``sf_dir``."""
    return load_all()["bam_count_reads"].fn(spark, "")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, each called
    as ``fn(spark, sf_dir)``."""
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
