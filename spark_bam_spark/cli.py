"""CLI mirroring the reference's QA harness (Main.scala:19-28, SURVEY
§2.11): every subcommand is a thin wrapper over the same DataFrame
pipelines the query registry exposes, so the CLI and the registry cannot
drift.

    python -m spark_bam_spark.cli check-bam /path/to/file.bam
    python -m spark_bam_spark.cli compute-splits file.bam --split-size 16384
    python -m spark_bam_spark.cli index-blocks file.bam --out /tmp/blocks
    python -m spark_bam_spark.cli htsjdk-rewrite in.bam --out out.bam -r 100-1000

Results print as CSV to stdout (the reference prints aligned text
reports; CSV keeps the output machine-consumable) or write to ``--out``.
"""

from __future__ import annotations

import argparse
import csv
import sys

from pyspark.sql import DataFrame, SparkSession

# The reference bounds driver-collected report output at --print-limit
# (default 1e6; docs/command-line.md:92-97, CheckerApp.scala:186-196).  The
# stdout path here does the same: collecting an unbounded `blocks` listing
# over a multi-TB corpus would OOM the driver.
DEFAULT_PRINT_LIMIT = 1_000_000


def _df_to_out(df: DataFrame, out: str | None, print_limit: int = DEFAULT_PRINT_LIMIT) -> None:
    if out:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
        print(f"wrote {out}")
        return
    cols = df.columns
    rows = df.limit(print_limit + 1).collect()
    truncated = len(rows) > print_limit
    writer = csv.writer(sys.stdout, lineterminator="\n")
    writer.writerow(cols)
    for row in rows[:print_limit]:
        writer.writerow(["" if row[c] is None else row[c] for c in cols])
    if truncated:
        print(
            f"... output truncated at --print-limit {print_limit} rows; "
            f"use --out to write the full result",
            file=sys.stderr,
        )


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("path", help="BAM file path")
    p.add_argument("--split-size", type=int, default=65536)
    p.add_argument("--out", default=None, help="write CSV here instead of stdout")
    p.add_argument(
        "--print-limit",
        type=int,
        default=DEFAULT_PRINT_LIMIT,
        help="max rows printed to stdout (ignored with --out)",
    )


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="spark_bam_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in (
        "check-bam",
        "full-check",
        "check-blocks",
        "compute-splits",
        "count-reads",
        "time-load",
        "idxstats",
        "flagstat",
        "blocks",
    ):
        _add_common(sub.add_parser(name))
    p = sub.add_parser("compare-splits")
    p.add_argument("paths", nargs="+", help="BAM files to compare")
    p.add_argument("--split-size", type=int, default=65536)
    p.add_argument("--out", default=None)
    p.add_argument("--print-limit", type=int, default=DEFAULT_PRINT_LIMIT)
    for name in ("index-blocks", "index-records"):
        p = sub.add_parser(name)
        p.add_argument("path")
        p.add_argument("--out", required=True, help="index output directory")
    p = sub.add_parser("htsjdk-rewrite")
    p.add_argument("path")
    p.add_argument("--out", required=True, help="output BAM path")
    p.add_argument("-r", "--range", default=None, help="row-index range lo-hi (1-based, inclusive)")
    p.add_argument(
        "--bai",
        action="store_true",
        help="also emit a spec-standard BAI index per part file "
        "(input must be coordinate-sorted) so the output serves indexed "
        "interval scans",
    )
    # generic registry access: every operator the engine claims is a named
    # query, and every named query is runnable from the CLI
    p = sub.add_parser("list-queries", help="list the operator/query registry")
    p.add_argument("--tag", default=None, help="filter by tag (e.g. dedup, tpch, sketch)")
    p = sub.add_parser("query", help="run any registered query over a testdata dir")
    p.add_argument("name", help="registry name (see list-queries)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001", help="parquet table directory")
    p.add_argument("--out", default=None, help="write CSV here instead of stdout")
    p.add_argument("--print-limit", type=int, default=DEFAULT_PRINT_LIMIT)
    p = sub.add_parser(
        "explain",
        help="print a registered query's physical plan without executing the "
        "query (queries built on eagerly-checkpointed iterations may still "
        "run their preparatory jobs while the plan is constructed)",
    )
    p.add_argument("name", help="registry name (see list-queries)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001", help="parquet table directory")
    p.add_argument(
        "--mode",
        default="formatted",
        choices=("simple", "extended", "formatted", "cost", "codegen"),
        help="Spark explain mode",
    )
    return ap


def _reads(spark: SparkSession, path: str, split_size: int, columns: str | None = None) -> DataFrame:
    from spark_bam_spark.bam.reader import read_bam

    return read_bam(spark, path, split_size=split_size, columns=columns)


def run(args: argparse.Namespace, spark: SparkSession) -> None:
    from pyspark.sql import functions as F

    from spark_bam_spark.operators import qa

    cmd = args.cmd
    if cmd == "list-queries":
        from spark_bam_spark.queries import load_all

        writer = csv.writer(sys.stdout, lineterminator="\n")
        writer.writerow(["name", "tags", "oracle", "oracle_kind", "headline", "headline2"])
        for name, spec in load_all().items():
            if args.tag and args.tag not in spec.tags:
                continue
            writer.writerow(
                [
                    name,
                    " ".join(spec.tags),
                    bool(spec.oracle),
                    spec.oracle_kind if spec.oracle else "",
                    spec.headline,
                    spec.headline2,
                ]
            )
        return
    if cmd == "query":
        from spark_bam_spark.queries import load_all

        registry = load_all()
        if args.name not in registry:
            raise SystemExit(
                f"unknown query {args.name!r}; `list-queries` prints the registry"
            )
        df = registry[args.name].fn(spark, args.sf_dir)
        _df_to_out(df, args.out, print_limit=args.print_limit)
        return
    if cmd == "explain":
        from spark_bam_spark.queries import load_all

        registry = load_all()
        if args.name not in registry:
            raise SystemExit(
                f"unknown query {args.name!r}; `list-queries` prints the registry"
            )
        df = registry[args.name].fn(spark, args.sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(args.mode)
        print(df._jdf.queryExecution().explainString(mode))
        return
    if cmd == "check-bam":
        df = qa.confusion_matrix(qa.calls(spark, args.path, stride=1))
    elif cmd == "full-check":
        df = qa.flags_histogram(spark, args.path)
    elif cmd == "check-blocks":
        df = qa.block_first_reads(spark, args.path)
    elif cmd == "compute-splits":
        df = qa.splits_from_partitions(_reads(spark, args.path, args.split_size))
    elif cmd == "compare-splits":
        df = qa.compare_splits_stats(spark, args.paths, split_size=args.split_size)
    elif cmd == "count-reads":
        df = _reads(spark, args.path, args.split_size, columns="block_pos,offset").agg(
            F.count("*").alias("n_reads")
        )
    elif cmd == "time-load":
        df = qa.first_reads_per_partition(
            _reads(spark, args.path, args.split_size, columns="qname,block_pos,offset")
        )
    elif cmd == "idxstats":
        # samtools semantics: index-first (O(index bytes) via the BAI
        # metadata pseudo-bin — the r10 write-side emission exists so
        # this query never touches the data), scan-fallback when any
        # data file lacks a .bai sidecar
        pairs = qa.bai_sidecar_pairs(args.path)
        if pairs:
            df = qa.idxstats_from_index(spark, pairs)
        else:
            # scan fallback follows the SAME classification the BAI
            # pseudo-bins use (spec §5.2 / BaiAccumulator.add): a record
            # with ref_idx<0 OR pos<0 is coordinate-less — '*' row,
            # unmapped column, regardless of flag 0x4 — so index path
            # and fallback report identical rows on identical data
            reads = _reads(spark, args.path, args.split_size, columns="rname,pos,flag")
            no_coor = F.col("rname").isNull() | (F.col("pos") < 0)
            unmapped = F.when(no_coor, F.lit(1)).otherwise(
                (F.col("flag").bitwiseAND(0x4) != 0).cast("int")
            )
            df = (
                reads.select(
                    F.when(no_coor, F.lit("*")).otherwise(F.col("rname")).alias("rname"),
                    unmapped.alias("u"),
                )
                .groupBy("rname")
                .agg(
                    F.sum(1 - F.col("u")).cast("bigint").alias("mapped"),
                    F.sum("u").cast("bigint").alias("unmapped"),
                )
                .orderBy("rname")
            )
    elif cmd == "flagstat":
        # samtools-flagstat-style counters, flag-derived, in ONE scan pass
        # (operators/qa.flagstat_agg: a single map-side-combined agg over
        # the pruned flag/ref/mapq columns — at 100 TB no shuffle of
        # reads); the registry twin bam_flagstat hash-checks the same
        # operator against a generator-derived oracle
        reads = _reads(
            spark, args.path, args.split_size, columns="flag,ref_idx,mate_ref_idx,mapq"
        )
        row = qa.flagstat_agg(reads).collect()[0]
        df = spark.createDataFrame(
            [(k, int(v)) for k, v in row.asDict().items()], "metric string, n bigint"
        )
    elif cmd == "blocks":
        from spark_bam_spark.bam.reader import read_blocks

        df = read_blocks(spark, args.path)
    elif cmd == "index-blocks":
        qa.index_blocks(spark, args.path, args.out)
        print(f"wrote {args.out}")
        return
    elif cmd == "index-records":
        qa.index_records(_reads(spark, args.path, 65536, columns="block_pos,offset"), args.out)
        print(f"wrote {args.out}")
        return
    elif cmd == "htsjdk-rewrite":
        from pyspark.sql import Window as W

        from spark_bam_spark.bam.header import parse_header

        with open(args.path, "rb") as f:
            hdr = parse_header(f)
        reads = _reads(spark, args.path, 65536)
        if args.range:
            lo, hi = (int(x) for x in args.range.split("-"))
            w = W.orderBy("block_pos", "offset")
            reads = (
                reads.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn").between(lo, hi))
                .drop("_rn")
            )
        contigs = ",".join(f"{n}:{ln}" for n, ln in zip(hdr.names, hdr.lengths))
        from spark_bam_spark.bam.reader import write_bam_df

        write_bam_df(reads, args.out, contigs=contigs, bai=getattr(args, "bai", False))
        print(f"wrote {args.out}")
        return
    else:  # pragma: no cover
        raise SystemExit(f"unknown command {cmd}")
    _df_to_out(df, args.out, print_limit=getattr(args, "print_limit", DEFAULT_PRINT_LIMIT))


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    from spark_bam_spark.session import get_spark

    spark = get_spark("spark_bam_spark-cli")
    run(args, spark)


if __name__ == "__main__":
    main()
