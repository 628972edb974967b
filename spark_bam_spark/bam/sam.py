"""SAM text source/sink: ``load_sam`` is the engine's S2 (loadSam,
load/.../CanLoadBam.scala:41-69 — split text by lines, drop ``@`` header
lines, parse each with the broadcast header).

Spark-first: the whole parse is built-in expressions (split / when /
regexp_extract_all / aggregate) — JVM-side, whole-stage-codegen'd, no
Python UDF. The contig dictionary is parsed from the same file's ``@SQ``
lines into a tiny DataFrame and broadcast-joined to resolve
``rname -> ref_idx`` (the reference broadcasts its parsed header the same
way, CanLoadBam.scala:59-66).

Output schema matches the BAM scan (reader.READS_DDL) minus the
virtual-position columns (text files have no BGZF coordinates):
``block_pos``/``offset`` are NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_bam_spark.bam.records import BamRecord

# reference-consuming cigar ops (M/D/N/=/X) — SAM spec §1.4.6
_END_POS_EXPR = (
    "pos + aggregate("
    "  filter(regexp_extract_all(cigar, '(\\\\d+)([MIDNSHP=X])', 0),"
    "         x -> substring(x, -1, 1) IN ('M','D','N','=','X')),"
    "  0L, (acc, x) -> acc + cast(substring(x, 1, length(x)-1) AS long))"
)


def record_to_sam_line(r: BamRecord, names: list[str]) -> str:
    rname = names[r.ref_idx] if 0 <= r.ref_idx < len(names) else "*"
    if r.mate_ref_idx == -1:
        rnext = "*"
    elif r.mate_ref_idx == r.ref_idx:
        rnext = "="
    else:
        rnext = names[r.mate_ref_idx]
    qual = "".join(chr(q + 33) for q in r.qual) if r.qual else "*"
    fields = [
        r.qname,
        str(r.flag),
        rname,
        str(r.pos + 1),
        str(r.mapq),
        r.cigar_str,
        rnext,
        str(r.mate_pos + 1),
        str(r.tlen),
        r.seq or "*",
        qual,
    ] + [f"{k}:Z:{v}" for k, v in sorted(r.tags.items())]
    return "\t".join(fields)


def write_sam(path: str, names: list[str], lengths: list[int], records: list[BamRecord]) -> None:
    with open(path, "w") as f:
        f.write("@HD\tVN:1.6\tSO:coordinate\n")
        for n, ln in zip(names, lengths):
            f.write(f"@SQ\tSN:{n}\tLN:{ln}\n")
        for r in records:
            f.write(record_to_sam_line(r, names) + "\n")


def contigs_df(spark: SparkSession, path: str) -> DataFrame:
    """``@SQ`` header lines → (ref_idx, rname, contig_len) dimension.
    ref_idx = order of appearance (single header, partition 0)."""
    lines = spark.read.text(path)
    sq = (
        lines.filter(F.col("value").startswith("@SQ"))
        .select(
            F.monotonically_increasing_id().alias("_ord"),
            F.regexp_extract("value", r"SN:([^\t]+)", 1).alias("rname"),
            F.regexp_extract("value", r"LN:(\d+)", 1).cast("long").alias("contig_len"),
        )
    )
    w = F.row_number().over(Window.orderBy("_ord")) - 1
    return sq.select(w.cast("int").alias("ref_idx"), "rname", "contig_len")


def load_sam(spark: SparkSession, path: str) -> DataFrame:
    """S2: parse SAM text into the engine's reads schema, declaratively."""
    contigs = F.broadcast(contigs_df(spark, path).drop("contig_len"))
    f = F.split("value", "\t")
    raw = (
        spark.read.text(path)
        .filter(~F.col("value").startswith("@"))
        .select(
            f.getItem(0).alias("qname"),
            f.getItem(1).cast("int").alias("flag"),
            F.when(f.getItem(2) == "*", None).otherwise(f.getItem(2)).alias("rname"),
            (f.getItem(3).cast("long") - 1).alias("pos"),
            f.getItem(4).cast("int").alias("mapq"),
            f.getItem(5).alias("cigar"),
            f.getItem(6).alias("_rnext"),
            (f.getItem(7).cast("long") - 1).alias("mate_pos"),
            f.getItem(8).cast("int").alias("tlen"),
            F.when(f.getItem(9) == "*", "").otherwise(f.getItem(9)).alias("seq"),
            F.when(f.getItem(10) == "*", "").otherwise(f.getItem(10)).alias("qual"),
            F.map_from_entries(
                F.transform(
                    F.slice(f, 12, 4096),
                    # value = everything after the SECOND colon — Z-type
                    # values legally contain ':' (URLs, program lines);
                    # substring_index(s, ':', -1) would truncate them
                    lambda s: F.struct(
                        F.substring_index(s, ":", 1).alias("key"),
                        F.substring(
                            s,
                            F.length(F.substring_index(s, ":", 2)) + 2,
                            F.length(s),
                        ).alias("value"),
                    ),
                )
            ).alias("tags"),
        )
    )
    mate_rname = (
        F.when(F.col("_rnext") == "=", F.col("rname"))
        .when(F.col("_rnext") == "*", None)
        .otherwise(F.col("_rnext"))
    )
    joined = (
        raw.withColumn("_mate_rname", mate_rname)
        .join(contigs, on="rname", how="left")
        .join(
            contigs.withColumnRenamed("rname", "_mate_rname").withColumnRenamed("ref_idx", "mate_ref_idx"),
            on="_mate_rname",
            how="left",
        )
    )
    return joined.select(
        "qname",
        "flag",
        F.coalesce("ref_idx", F.lit(-1)).alias("ref_idx"),
        "rname",
        "pos",
        F.when(F.col("pos") < 0, F.lit(-1)).otherwise(F.expr(_END_POS_EXPR)).alias("end_pos"),
        "mapq",
        "cigar",
        F.when(F.col("cigar") == "*", 0)
        .otherwise(F.size(F.regexp_extract_all("cigar", F.lit(r"(\d+)([MIDNSHP=X])"), 0)))
        .alias("n_cigar_ops"),
        F.coalesce("mate_ref_idx", F.lit(-1)).alias("mate_ref_idx"),
        "mate_pos",
        "tlen",
        "seq",
        F.length("seq").alias("seq_len"),
        "qual",
        "tags",
        F.lit(None).cast("long").alias("block_pos"),
        F.lit(None).cast("int").alias("offset"),
    )


def load_reads(spark: SparkSession, path: str, **options) -> DataFrame:
    """S1 loadReads: dispatch by extension (CanLoadBam.scala:249-283)."""
    if path.endswith(".sam"):
        return load_sam(spark, path)
    if path.endswith(".bam"):
        from spark_bam_spark.bam.reader import read_bam

        return read_bam(spark, path, **options)
    if path.endswith(".cram"):
        # S5: delegate to the optional pysam codec (CanLoadBam.scala:268-277
        # delegates to htsjdk the same way); raises NotImplementedError
        # when pysam is absent
        from spark_bam_spark.bam.cram import load_cram

        return load_cram(spark, path, reference=options.get("reference"))
    raise ValueError(f"unsupported read-file extension: {path!r} (.sam/.bam/.cram)")
