"""The engine's BAM entry points: reads, blocks and writes.

Every function here runs on the JVM DataSourceV2 in ``bam/jvmsrc/bamjvm/``
(built and attached by ``jvmreader``): the record decode, the BGZF codec
and the part-BAM encoder all run in the executor JVM, the execution shape
the reference uses (load/.../CanLoadBam.scala runs its codec JVM-side;
cited as behavior).  There is no second implementation to fall back to:
without a JDK compiler, ``jvmreader.jar_path`` raises
``RuntimeError("javac not found: JVM BAM reader unavailable")``.

The pure-Python codec (``bgzf``, ``header``, ``records``, ``checker``,
``writer``, ``bai``) is not a Spark path.  It is the independent oracle
the tests compare the JVM scan and writer against, and the generator of
fixtures and benchmark inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_bam_spark.bam import jvmreader

# The logical read schema (bamjvm.BamDataSource.fullSchema), in column
# order.  The SAM and CRAM loaders produce the same columns.
READS_FIELDS = [
    ("qname", "string"),
    ("flag", "int"),
    ("ref_idx", "int"),
    ("rname", "string"),
    ("pos", "bigint"),
    ("end_pos", "bigint"),
    ("mapq", "int"),
    ("cigar", "string"),
    ("n_cigar_ops", "int"),
    ("mate_ref_idx", "int"),
    ("mate_pos", "bigint"),
    ("tlen", "int"),
    ("seq", "string"),
    ("seq_len", "int"),
    ("qual", "string"),
    ("tags", "map<string,string>"),
    ("block_pos", "bigint"),
    ("offset", "int"),
]
READS_DDL = ", ".join(f"{n} {t}" for n, t in READS_FIELDS)


# perfbench/run.py checks these two before it measures anything; they
# stay so that the benchmark keeps running unchanged.  There is one read
# and one write implementation, so the answer is fixed.
def reader_choice() -> str:
    return "jvm"


def writer_choice() -> str:
    return "jvm"


def _options(reader, **opts):
    """Set each option that is not None, as its string."""
    for k, v in opts.items():
        if v is not None:
            reader = reader.option(k, str(v).lower() if isinstance(v, bool) else str(v))
    return reader


def read_bam(
    spark: SparkSession,
    path: str,
    split_size: int | None = None,
    columns: str | None = None,
    mode: str | None = None,
    ranges: str | None = None,
) -> DataFrame:
    """DataFrame of reads (schema ``READS_DDL``) over a BAM file or
    directory, through bamjvm.BamDataSource.  ``columns`` is a
    comma-separated projection; Catalyst prunes the scan to it
    (SupportsPushDownRequiredColumns).  Each split decodes into columnar
    batches (bamjvm.BamColumnarReader)."""
    if mode is not None and mode not in ("failfast", "permissive"):
        raise ValueError(f"mode must be failfast|permissive, got {mode!r}")
    jvmreader.ensure_session(spark)
    df = _options(
        spark.read.format(jvmreader.FORMAT),
        split_size=split_size,
        mode=mode,
        ranges=ranges,
    ).load(path)
    if columns:
        df = df.select(*[c.strip() for c in columns.split(",")])
    return df


def read_blocks(
    spark: SparkSession,
    path: str,
    split_size: int | None = None,
    ranges: str | None = None,
) -> DataFrame:
    """BGZF blocks-metadata DataFrame via bamjvm.BlocksSource (S9):
    parallel block discovery, each block read once and never inflated,
    no Python worker boundary."""
    jvmreader.ensure_session(spark)
    return _options(
        spark.read.format(jvmreader.FORMAT_BLOCKS), split_size=split_size, ranges=ranges
    ).load(path)


def write_bam_df(
    df: DataFrame,
    path: str,
    contigs: str = "",
    block_payload: int | None = None,
    bai: bool = False,
    mode: str = "append",
    deflate_level: int | None = None,
) -> None:
    """Write a reads DataFrame as a directory of part-BAMs through the
    JVM sink (bamjvm/BamWriteSupport.java).

    Accepts any subset of the logical read-schema columns; missing columns
    and NULLs take the spec defaults.  ``contigs`` is ``name:length,...``
    for the header's @SQ lines (and rname→ref_idx resolution when the
    frame has no ref_idx column).

    ``bai=True`` also emits a spec §5.2 BAI index per part file as a
    running side effect of the write — the writer owns every record's
    exact virtual offset — so interval queries over the rewritten output
    get indexed pushdown with no separate indexing pass.  Partitions that
    are not coordinate-sorted are rejected.

    ``deflate_level`` is a throughput/size knob: level 1 trades ~15%
    larger files for less CPU per block."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    jvmreader.ensure_session(df.sparkSession)
    _options(
        df.write.format(jvmreader.FORMAT),
        bai=bai or None,
        contigs=contigs or None,
        block_payload=block_payload,
        deflate_level=deflate_level,
    ).mode(mode).save(path)
