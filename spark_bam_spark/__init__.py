"""spark_bam_spark — a PySpark re-expression of hammerlab/spark-bam.

The BAM scan layer (split planning, record-boundary checking, the
check-bam QA harness) on the Spark DataFrame / SQL stack, plus query
families over a synthetic corpus (TPC-H-style relational, dedup,
similarity, text, ML-prep and data-pipeline queries).

Layout:
    session     — SparkSession factory: local[N] over the CPUs this
                  process may use, AQE, Arrow, UTC session time
    tables      — parquet table loaders for the synthetic TPC-H-ish corpus
    cli         — the CLI mirroring the reference's QA harness (check-bam,
                  compute-splits, index-blocks, ...)
    queries     — the query registry: each query exposed as
                  (spark, sf_dir) -> DataFrame with a DuckDB oracle SQL
                  string for differential testing
    bam/        — the format layer: BGZF blocks, record-boundary checkers,
                  the bamjvm DataSourceV2 reader and writer
                  (jvmsrc/bamjvm/, entered through bam/reader.py), and the
                  pure-Python codec, checker and writer that serve as the
                  independent oracle and the fixture generator
    operators/  — the check-bam QA pipelines (qa) and Z-order layout
                  (layout)
    streaming/  — Structured Streaming pipelines over the events table
"""

from spark_bam_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
