"""spark_bam_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of hammerlab/spark-bam
(reference read-only at /root/reference/) on top of the Spark DataFrame /
SQL / Structured Streaming stack, extended with large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns).

Layout:
    session     — SparkSession factory tuned for the local[32] harness
    tables      — parquet table loaders for the synthetic TPC-H-ish corpus
    queries     — the operator registry: every operator from SURVEY.md §2
                  exposed as (spark, sf_dir) -> DataFrame with a DuckDB
                  oracle SQL string for differential testing
    bam/        — the format layer: BGZF blocks, record-boundary checkers,
                  the bamjvm DataSourceV2 reader and writer
                  (jvmsrc/bamjvm/, entered through bam/reader.py), and the
                  pure-Python codec, checker and writer that serve as the
                  independent oracle and the fixture generator
    operators/  — analytic operator implementations (relational, dedup,
                  similarity, text, QA pipelines)
    streaming/  — Structured Streaming pipelines over the events table
"""

from spark_bam_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
