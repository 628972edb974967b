"""The format layer: a splittable, parallel BAM scan for Spark.

Re-expresses the reference's product core (spark-bam: parallel split
computation + record-boundary validity checking, docs/motivation.md:3-52)
as a JVM DataSourceV2 (``jvmsrc/bamjvm/``, built on demand by
``jvmreader``) behind ``reader.read_bam``: decode, the BGZF codec and the
part-BAM writer run compiled in the executor JVM, the reference's own
execution shape.  Split computation happens on executors.  The scan is a
batch load, as the reference's loadBam is: one columnar decoder, no
streaming source.

The pure-Python modules are the independent oracle the JVM code is
tested against, and the fixture and benchmark-input generator; no Spark
path runs them.

Modules:
    bgzf        — BGZF block layer (public BGZF spec, SAM/BAM spec §4.1)
    records     — BAM record binary encode/decode (spec §4.2)
    checker     — record-boundary validity predicates (eager + full)
    writer      — BAM writer + sidecar ground truth + fixture generator
    jvmreader   — on-demand javac build + ADD JAR wiring for bamjvm
    reader      — the entry points (read_bam / read_blocks / write_bam_df)
"""

from spark_bam_spark.bam.bgzf import Pos  # noqa: F401
