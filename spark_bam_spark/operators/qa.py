"""The reference's CLI QA harness (SURVEY §2.11) as DataFrame pipelines.

Each subcommand becomes a declarative pipeline over the format layer's
DataFrames; the per-partition-initialized Checker typeclass (§2.10,
check/.../Checker.scala:6-24) becomes ``mapInPandas`` with per-task file
handles and a block cache.

Pipelines (reference dataflow cited in each function):
- check-bam   → calls() + confusion_matrix() + flags_histogram()
- full-check  → flags_histogram() + error CDF
- check-blocks→ block_first_reads() (+ lag attribution)
- compute-splits → splits_from_partitions() + split_diff()
- count-reads → count via scan, compared to sidecar ground truth
- time-load   → first_reads_per_partition() anti-joined both ways
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_bam_spark.bam.bgzf import MAX_BLOCK_SIZE
from spark_bam_spark.bam.reader import read_blocks

_LOOKAHEAD_BLOCKS = 4


# per-worker LRU of decompressed blocks — the engine's S14 (Stream.scala:
# 80-122 caches the last 100 blocks because boundary checking re-reads
# the same blocks for overlapping lookahead windows). ≤64 KiB each.
_BLOCK_CACHE: "OrderedDict[tuple[str, int], tuple[bytes, int]]" = OrderedDict()
_BLOCK_CACHE_CAP = 256


def _cached_block(path: str, start: int) -> tuple[bytes, int]:
    """(decompressed payload, next block start); (b"", -1) at EOF."""
    key = (path, start)
    hit = _BLOCK_CACHE.get(key)
    if hit is not None:
        _BLOCK_CACHE.move_to_end(key)
        return hit
    from spark_bam_spark.bam import bgzf

    with open(path, "rb") as f:
        got = next(bgzf.block_stream(f, start), None)
    val = (b"", -1) if got is None else (got[1], start + got[0].compressed_size)
    _BLOCK_CACHE[key] = val
    if len(_BLOCK_CACHE) > _BLOCK_CACHE_CAP:
        _BLOCK_CACHE.popitem(last=False)
    return val


def _window_with_bounds(path: str, block_start: int, n_blocks: int):
    """Decompress ``n_blocks`` blocks from ``block_start`` into one flat
    buffer (the checker needs successor-record lookahead); returns (flat
    bytes, block u-starts, block c-starts) for Pos mapping."""
    parts, ustarts, bstarts = [], [], []
    s, u = block_start, 0
    for _ in range(n_blocks):
        data, nxt = _cached_block(path, s)
        if not data:
            break
        ustarts.append(u)
        bstarts.append(s)
        parts.append(data)
        u += len(data)
        s = nxt
    return b"".join(parts), ustarts, bstarts


def calls(spark: SparkSession, bam_path: str, stride: int = 1) -> DataFrame:
    """Per-position eager-checker calls joined to ground truth — the
    check-bam fact table (CallPartition.scala:23-53 → RDD[(Pos,(call,truth))];
    PosIterator.scala:5-15 enumerates every uncompressed offset).
    EVERY position is swept (stride=1 default) — the vectorized
    prescreen (vectorcheck.sweep_calls) makes the full sweep cheaper
    than the old strided Python loop.

    Scale shape: the blocks table is the driver of parallelism (balanced
    byte ranges); each task initializes one header + reuses decompressed
    windows; output is hash-partitionable on (block_pos, offset)."""
    import numpy as np

    blocks = read_blocks(spark, bam_path)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spark_bam_spark.bam.header import parse_header
        from spark_bam_spark.bam.vectorcheck import sweep_calls

        headers: dict[str, object] = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if row.path not in headers:
                    with open(row.path, "rb") as f:
                        headers[row.path] = parse_header(f).info()
                info = headers[row.path]
                flat = _window_with_bounds(row.path, row.start, _LOOKAHEAD_BLOCKS)[0]
                count = row.uncompressed_size
                eager, upstream = sweep_calls(flat, count, info)
                offs = np.arange(0, count, stride, dtype=np.int32)
                if stride > 1:
                    eager, upstream = eager[offs], upstream[offs]
                yield pd.DataFrame(
                    {
                        "block_pos": np.full(len(offs), row.start, dtype=np.int64),
                        "offset": offs,
                        "eager_call": eager,
                        "upstream_call": upstream,
                    }
                )

    c = blocks.mapInPandas(
        gen, schema="block_pos long, offset int, eager_call boolean, upstream_call boolean"
    )
    truth = (
        spark.read.csv(bam_path + ".records", schema="block_pos long, offset int")
        .withColumn("oracle_call", F.lit(True))
    )
    return c.join(truth, ["block_pos", "offset"], "left").fillna({"oracle_call": False})


def confusion_matrix(calls_df: DataFrame) -> DataFrame:
    """TP/TN/FP/FN in one hash-agg (CheckerApp.scala:70-96, A1)."""
    return calls_df.groupBy("eager_call", "oracle_call").agg(F.count("*").alias("n"))


def three_way_confusion(calls_df: DataFrame) -> DataFrame:
    """eager × upstream × ground-truth confusion — the reference's core
    differential query (check-bam with both -s and -u checkers,
    CheckBam.scala:53-68): upstream false positives are positions where
    upstream_call & ~oracle_call; eager must have none."""
    return calls_df.groupBy("eager_call", "upstream_call", "oracle_call").agg(
        F.count("*").alias("n")
    )


def flags_sweep(spark: SparkSession, bam_path: str, limit_blocks: int | None = None) -> DataFrame:
    """full-check fact table: for EVERY position with ≥1 failing flag,
    one row with num_flags + the 19 individual flag booleans
    (FullCheck.scala:86-325; Flags struct full/error/Flags.scala:21-45).
    Vectorized sweep (vectorcheck.full_flags) — no per-position Python."""
    import numpy as np

    from spark_bam_spark.bam.checker import FLAG_NAMES

    blocks = read_blocks(spark, bam_path)
    if limit_blocks:
        blocks = blocks.orderBy("start").limit(limit_blocks)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spark_bam_spark.bam.header import parse_header
        from spark_bam_spark.bam.vectorcheck import full_flags

        headers: dict[str, object] = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if row.path not in headers:
                    with open(row.path, "rb") as f:
                        headers[row.path] = parse_header(f).info()
                info = headers[row.path]
                flat = _window_with_bounds(row.path, row.start, _LOOKAHEAD_BLOCKS)[0]
                flags = full_flags(flat, row.uncompressed_size, info)
                num = np.zeros(row.uncompressed_size, dtype=np.int32)
                for a in flags.values():
                    num += a
                nz = np.flatnonzero(num)
                data = {
                    "block_pos": np.full(nz.size, row.start, dtype=np.int64),
                    "offset": nz.astype(np.int32),
                    "num_flags": num[nz],
                }
                for k in FLAG_NAMES:
                    data[k] = flags[k][nz]
                yield pd.DataFrame(data)

    flag_cols = ", ".join(f"{k} boolean" for k in FLAG_NAMES)
    return blocks.mapInPandas(
        gen, schema=f"block_pos long, offset int, num_flags int, {flag_cols}"
    )


def flags_histogram(spark: SparkSession, bam_path: str, limit_blocks: int | None = None) -> DataFrame:
    """full-check: positions-by-#failing-flags histogram (A2/A3)."""
    return (
        flags_sweep(spark, bam_path, limit_blocks)
        .groupBy("num_flags")
        .agg(F.count("*").alias("n_positions"))
        .orderBy("num_flags")
    )


def splits_from_partitions(reads: DataFrame) -> DataFrame:
    """compute-splits: first Pos per partition + lead() → (start,end)
    ranges (CanLoadBam.scala:145-179 S6, sliding2 W1)."""
    firsts = (
        reads.select(F.spark_partition_id().alias("pid"), "block_pos", "offset")
        .groupBy("pid")
        .agg(F.min(F.struct("block_pos", "offset")).alias("start"))
        .select("pid", "start.block_pos", "start.offset")
    )
    w = W.orderBy("block_pos", "offset")
    return firsts.select(
        "pid",
        "block_pos",
        "offset",
        F.lead("block_pos").over(w).alias("end_block_pos"),
        F.lead("offset").over(w).alias("end_offset"),
    )


def split_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """compare-splits orMerge: full-outer on start Pos, classify
    Both/LeftOnly/RightOnly (ComputeSplits.scala:114-122, J2/E2)."""
    aa = a.select("block_pos", "offset").withColumn("in_a", F.lit(True))
    bb = b.select("block_pos", "offset").withColumn("in_b", F.lit(True))
    j = aa.join(bb, ["block_pos", "offset"], "full_outer")
    side = (
        F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), "Both")
        .when(F.col("in_a").isNotNull(), "LeftOnly")
        .otherwise("RightOnly")
    )
    return j.select(side.alias("side")).groupBy("side").agg(F.count("*").alias("n"))


def block_first_reads(spark: SparkSession, bam_path: str) -> DataFrame:
    """check-blocks: offset of the first record in each block + previous
    block's size for bad-split attribution (CheckBlocks.scala:37-194,
    sliding2Prev W2, histogram A8)."""
    from spark_bam_spark.bam.reader import read_bam

    reads_firsts = (
        read_bam(spark, bam_path, columns="block_pos,offset")
        .groupBy("block_pos")
        .agg(F.min("offset").alias("first_read_offset"))
    )
    blocks = read_blocks(spark, bam_path)
    w = W.orderBy("start")
    blocks_prev = blocks.select(
        "start",
        "compressed_size",
        "uncompressed_size",
        F.lag("compressed_size").over(w).alias("prev_compressed_size"),
    )
    return blocks_prev.join(
        reads_firsts, blocks_prev.start == reads_firsts.block_pos, "left"
    ).select("start", "compressed_size", "uncompressed_size", "prev_compressed_size", "first_read_offset")


def first_reads_per_partition(reads: DataFrame) -> DataFrame:
    """time-load W4: first read (by Pos) of each partition."""
    w = W.partitionBy("pid").orderBy("block_pos", "offset")
    return (
        reads.select(F.spark_partition_id().alias("pid"), "qname", "block_pos", "offset")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def name_set_diff(a: DataFrame, b: DataFrame) -> tuple[int, int]:
    """time-load E1: anti-join of first-read names, both directions
    (TimeLoad.scala:289-305). Returns (onlyInA, onlyInB) counts."""
    only_a = a.select("qname").join(b.select("qname"), "qname", "left_anti").count()
    only_b = b.select("qname").join(a.select("qname"), "qname", "left_anti").count()
    return only_a, only_b


def observed_reads(reads: DataFrame) -> tuple[DataFrame, "Observation"]:
    """Side-aggregated scan metrics without a second pass — the engine's
    analogue of the reference's longAccumulators bumped during filtering
    (CheckerApp.scala:62,70-73; SURVEY §4 'accumulator-based side
    aggregation' → df.observe). Returns (df, observation); metrics are
    available after any action on df."""
    from pyspark.sql import Observation

    obs = Observation("scan_metrics")
    observed = reads.observe(
        obs,
        F.count(F.lit(1)).alias("n_reads"),
        F.sum((F.col("flag").bitwiseAND(4) != 0).cast("long")).alias("n_unmapped"),
        F.sum((F.col("ref_idx") == -1).cast("long")).alias("n_unplaced"),
    )
    return observed, obs


def index_blocks(spark: SparkSession, bam_path: str, out_dir: str) -> None:
    """index-blocks sink: BGZF block metadata → CSV sidecar rows via the
    distributed writer (IndexBlocks.scala:10-50 S16; one part per
    partition — at scale you don't single-thread this)."""
    (
        read_blocks(spark, bam_path)
        .select("start", "compressed_size", "uncompressed_size")
        .sortWithinPartitions("start")
        .write.mode("overwrite")
        .csv(out_dir)
    )


def index_records(reads: DataFrame, out_dir: str) -> None:
    """index-records sink: record virtual positions → CSV sidecar rows
    (IndexRecords.scala:13-178 S17, distributed instead of single-node)."""
    (
        reads.select("block_pos", "offset")
        .sortWithinPartitions("block_pos", "offset")
        .write.mode("overwrite")
        .csv(out_dir)
    )


def find_starts(spark: SparkSession, bam_path: str, probes: list[int]) -> DataFrame:
    """P8 FindBlockStart + P9 FindRecordStart as a distributed probe
    surface: for each byte offset, the next BGZF block start at/after it
    (FindBlockStart.scala:8-37) and the first record start at/after that
    block (FindRecordStart.scala:30-63) — the two sync primitives every
    split boundary resolution composes.  One task per probe batch; each
    probe opens its own bounded ``_Window`` over the file and reads
    blocks directly (seek + inflate) — NOT through the checker sweep's
    per-worker block LRU (S14), whose coverage comes from the sweep
    queries, not this probe surface (r13 ADVICE).

    Scale shape: probes are data-parallel and independent; each resolves
    against a bounded byte window (≤2 BGZF blocks scanned for the block
    start, a few blocks inflated for the record start), so cost is
    O(probes), never O(file)."""
    import numpy as np

    probe_df = spark.createDataFrame(
        [(int(p),) for p in probes], "probe long"
    ).repartition(max(1, min(16, len(probes) // 16)))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spark_bam_spark.bam import bgzf
        from spark_bam_spark.bam.checker import _Window, find_record_start
        from spark_bam_spark.bam.header import parse_header

        with open(bam_path, "rb") as f:
            hdr = parse_header(f)
        info = hdr.info()
        for pdf in batches:
            out = {"probe": [], "block_start": [], "rec_block_pos": [], "rec_offset": []}
            with open(bam_path, "rb") as f:
                for p in pdf["probe"].astype(np.int64):
                    p = int(p)
                    f.seek(p)
                    raw = f.read(bgzf.MAX_BLOCK_SIZE * 2)
                    rel = bgzf.find_block_start(raw, 0)
                    if rel is None:
                        continue  # no block at/after probe (past EOF window)
                    bstart = p + rel
                    # record sync as the scan does it (bamjvm
                    # RecordWalker over BamWindow): a lazily-extended
                    # uncompressed window with the ensure callback, so a
                    # presumptive record spanning the window edge grows
                    # the window instead of being blindly accepted, and
                    # mid-record EOF is rejected
                    win = _Window(f, bstart)
                    if win.empty:
                        continue
                    win.ensure(4 * MAX_BLOCK_SIZE)
                    u = find_record_start(win.buf, 0, info, ensure=win.ensure)
                    if u is None or u >= len(win.buf):
                        continue  # no record at/after this block (file tail)
                    pos = win.to_pos(u)
                    out["probe"].append(p)
                    out["block_start"].append(bstart)
                    out["rec_block_pos"].append(pos.block_pos)
                    out["rec_offset"].append(pos.offset)
            yield pd.DataFrame(
                {
                    "probe": pd.Series(out["probe"], dtype="int64"),
                    "block_start": pd.Series(out["block_start"], dtype="int64"),
                    "rec_block_pos": pd.Series(out["rec_block_pos"], dtype="int64"),
                    "rec_offset": pd.Series(out["rec_offset"], dtype="int32"),
                }
            )

    return probe_df.mapInPandas(
        gen, schema="probe long, block_start long, rec_block_pos long, rec_offset int"
    )


def bai_sidecar_pairs(path: str) -> list[tuple[str, str]]:
    """(bam, bai) pairs when EVERY data file under ``path`` carries a
    spec §5.2 ``.bai`` sidecar (a single indexed file, or a rewrite
    directory written with ``bai=True``) that is not older than its
    ``.bam``; ``[]`` otherwise.  All-or-nothing on purpose: a partially
    indexed directory must fall back to the scan path — serving idxstats
    from half an index would silently undercount.  An index older than
    its data (the scan's ``Bai.forBam`` rule) describes some earlier
    file, so it selects the scan path too."""
    import glob as _glob
    import os

    if os.path.isdir(path):
        bams = sorted(_glob.glob(os.path.join(path, "*.bam")))
    else:
        bams = [path] if os.path.exists(path) else []
    pairs = [(b, b + ".bai") for b in bams]
    if pairs and all(
        os.path.exists(bai) and os.stat(bai).st_mtime_ns >= os.stat(bam).st_mtime_ns
        for bam, bai in pairs
    ):
        return pairs
    return []


def idxstats_from_index(spark: SparkSession, pairs: list[tuple[str, str]]) -> DataFrame:
    """samtools-style idxstats served from the BAI metadata pseudo-bins
    alone — O(index bytes) instead of O(data bytes), the entire point of
    emitting the index at write time: per-ref (mapped, unmapped) from
    each part's pseudo-bin (bin 37450), the no-coordinate count from the
    index trailer, summed across parts.  Contig names come from the
    first part's header (every part of a rewrite shares it).  Refs with
    zero placed reads are dropped so the output matches the scan path's
    groupBy (which cannot produce empty groups).  (Reference reads BAIs
    in check/.../index/Read.scala:14-114 but has no idxstats surface;
    samtools semantics are index-first, scan-fallback.)"""
    from spark_bam_spark.bam.header import parse_header

    with open(pairs[0][0], "rb") as f:
        names = list(parse_header(f).names)
    bais = [bai for _, bai in pairs]

    def parse_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spark_bam_spark.bam.bai import idxstats_from_bai, parse_bai

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                per_ref, no_coor = idxstats_from_bai(parse_bai(p))
                for ref_idx, mapped, unmapped in per_ref:
                    rows.append((names[ref_idx], mapped, unmapped))
                rows.append(("*", 0, no_coor))
            yield pd.DataFrame(rows, columns=["rname", "mapped", "unmapped"])

    files_df = spark.createDataFrame([(p,) for p in bais], "path string").repartition(
        min(len(bais), 32)
    )
    return (
        files_df.mapInPandas(parse_parts, "rname string, mapped long, unmapped long")
        .groupBy("rname")
        .agg(
            F.sum("mapped").cast("bigint").alias("mapped"),
            F.sum("unmapped").cast("bigint").alias("unmapped"),
        )
        .filter((F.col("mapped") + F.col("unmapped")) > 0)
        .orderBy("rname")
    )


def flagstat_agg(reads: DataFrame) -> DataFrame:
    """samtools-flagstat counters as ONE map-side-combined aggregation
    over the pruned flag/ref/mapq columns — a single narrow scan, no
    shuffle of reads, at any corpus size.  One wide row out (13 BIGINT
    columns); the CLI melts it to metric/n lines, the registry query
    hash-checks it directly.

    samtools semantics: secondary (0x100) and supplementary (0x800)
    records are excluded from every paired-category counter (they appear
    only in total/secondary/supplementary/mapped/duplicates) — multi-
    mapping aligner output would otherwise overcount pairs."""
    fl = F.col("flag")

    def has(bit: int):
        return fl.bitwiseAND(bit) != 0

    mapped = ~has(0x4)
    primary = ~has(0x100) & ~has(0x800)
    paired = primary & has(0x1)
    both_mapped = paired & mapped & ~has(0x8)
    diff_chr = (
        both_mapped
        & (F.col("mate_ref_idx") >= 0)
        & (F.col("mate_ref_idx") != F.col("ref_idx"))
    )

    def cnt(cond):
        return F.sum(cond.cast("long"))

    return reads.agg(
        cnt(F.lit(True)).alias("total"),
        cnt(has(0x100)).alias("secondary"),
        cnt(has(0x800)).alias("supplementary"),
        cnt(has(0x400)).alias("duplicates"),
        cnt(mapped).alias("mapped"),
        cnt(paired).alias("paired_in_sequencing"),
        cnt(paired & has(0x40)).alias("read1"),
        cnt(paired & has(0x80)).alias("read2"),
        cnt(paired & has(0x2) & mapped).alias("properly_paired"),
        cnt(both_mapped).alias("with_itself_and_mate_mapped"),
        cnt(paired & mapped & has(0x8)).alias("singletons"),
        cnt(diff_chr).alias("mate_on_different_chr"),
        cnt(diff_chr & (F.col("mapq") >= 5)).alias("mate_on_different_chr_mapq5"),
    )


def sorted_range_repartition(reads: DataFrame, n: int = 8) -> DataFrame:
    """W3 sortedRepartition (IndexedRecordPositions.scala:27-31): range-
    partition by Pos so each partition owns a disjoint, ordered key range
    — the layout the indexed checker's per-partition SortedSet membership
    relies on (O5)."""
    return reads.repartitionByRange(n, "block_pos", "offset").sortWithinPartitions(
        "block_pos", "offset"
    )


# ---------------------------------------------------------------------------
# full-check reports: CDF, critical/close calls, FP PosMetadata
# (FullCheck.scala:150-260; CheckerApp.scala:90-140; PosMetadata.scala:40-88)
# ---------------------------------------------------------------------------


def blocks_with_ustart(spark: SparkSession, bam_path: str) -> DataFrame:
    """Blocks + global uncompressed start offset (prefix sum A5): maps any
    (block_pos, offset) virtual position to a total uncompressed
    coordinate — what the reference's SeekableUncompressedBytes positions
    are measured in."""
    blocks = read_blocks(spark, bam_path)
    w = W.orderBy("start").rowsBetween(W.unboundedPreceding, -1)
    return blocks.select(
        F.col("start").alias("block_pos"),
        "uncompressed_size",
        F.coalesce(F.sum("uncompressed_size").over(w), F.lit(0)).alias("block_ustart"),
    )


def flags_cdf(spark: SparkSession, bam_path: str, limit_blocks: int | None = None) -> DataFrame:
    """negativesByNumNonzeroFields + its CDF (FullCheck.scala:150-188):
    long-format (num_flags, flag, n_flag, n_flag_cum) — per #failing-flags
    group, how often each flag fires, and cumulatively over groups ≤ n.
    The n=1 row per flag is the reference's 'critical error count'."""
    from spark_bam_spark.bam.checker import FLAG_NAMES

    sweep = flags_sweep(spark, bam_path, limit_blocks)
    agg = sweep.groupBy("num_flags").agg(
        F.count("*").alias("n_positions"),
        *[F.sum(F.col(k).cast("long")).alias(k) for k in FLAG_NAMES],
    )
    stack_expr = "stack({n}, {args}) as (flag, n_flag)".format(
        n=len(FLAG_NAMES), args=", ".join(f"'{k}', {k}" for k in FLAG_NAMES)
    )
    long = agg.select("num_flags", "n_positions", F.expr(stack_expr))
    w = W.partitionBy("flag").orderBy("num_flags").rowsBetween(W.unboundedPreceding, 0)
    return (
        long.withColumn("n_flag_cum", F.sum("n_flag").over(w))
        .filter(F.col("n_flag") > 0)
        .orderBy("num_flags", "flag")
    )


def _positions_u(df: DataFrame, ublocks: DataFrame) -> DataFrame:
    return df.join(F.broadcast(ublocks.select("block_pos", "block_ustart")), "block_pos").withColumn(
        "u", F.col("block_ustart") + F.col("offset")
    ).drop("block_ustart")


def annotate_positions(
    spark: SparkSession, bam_path: str, positions: DataFrame
) -> DataFrame:
    """PosMetadata (PosMetadata.scala:56-88): for each input position,
    the NEXT true record start at/after it (ground-truth .records), the
    uncompressed-byte delta to it, and that record's identifying fields.

    Spark-first: one union + window sort instead of per-position seeks —
    the record stream is scanned once regardless of how many positions
    are annotated."""
    ublocks = blocks_with_ustart(spark, bam_path)
    recs = (
        spark.read.csv(bam_path + ".records", schema="block_pos long, offset int")
        .transform(lambda d: _positions_u(d, ublocks))
        .select(F.col("u").alias("rec_u"), "block_pos", "offset")
    )
    pos_u = _positions_u(positions, ublocks)

    evts = recs.select(
        F.col("rec_u").alias("evt_u"),
        F.lit(True).alias("is_rec"),
        F.col("rec_u"),
        F.col("block_pos").alias("rec_block_pos"),
        F.col("offset").alias("rec_offset"),
        *[F.lit(None).cast(t).alias(c) for c, t in
          [("block_pos", "long"), ("offset", "int"), ("u", "long")]],
    ).unionByName(
        pos_u.select(
            F.col("u").alias("evt_u"),
            F.lit(False).alias("is_rec"),
            F.lit(None).cast("long").alias("rec_u"),
            F.lit(None).cast("long").alias("rec_block_pos"),
            F.lit(None).cast("int").alias("rec_offset"),
            "block_pos",
            "offset",
            "u",
        )
    )
    # descending scan: within the frame (all events with u >= current),
    # last() = the event closest to the current row = the NEXT record
    # at/after this position (records sort before positions at equal u
    # so an exact record start annotates itself)
    w = (
        W.orderBy(F.col("evt_u").desc(), F.col("is_rec").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ann = (
        evts.select(
            "*",
            F.last("rec_u", ignorenulls=True).over(w).alias("next_rec_u"),
            F.last("rec_block_pos", ignorenulls=True).over(w).alias("next_rec_block_pos"),
            F.last("rec_offset", ignorenulls=True).over(w).alias("next_rec_offset"),
        )
        .filter(~F.col("is_rec"))
        .select(
            "block_pos",
            "offset",
            (F.col("next_rec_u") - F.col("u")).alias("delta"),
            "next_rec_block_pos",
            "next_rec_offset",
        )
    )
    from spark_bam_spark.bam.reader import read_bam

    reads = (
        read_bam(spark, bam_path, columns="qname,rname,pos,flag,block_pos,offset")
        .select(
            F.col("block_pos").alias("next_rec_block_pos"),
            F.col("offset").alias("next_rec_offset"),
            F.col("qname").alias("next_qname"),
            F.col("rname").alias("next_rname"),
            F.col("pos").alias("next_pos"),
            F.col("flag").alias("next_flag"),
        )
    )
    return ann.join(reads, ["next_rec_block_pos", "next_rec_offset"], "left")


def close_calls(spark: SparkSession, bam_path: str, max_flags: int = 2) -> DataFrame:
    """closeCalls (FullCheck.scala:199-218): positions ruled out by at
    most ``max_flags`` checks, annotated with next-record metadata;
    num_flags==1 rows are the reference's 'critical positions'."""
    sweep = flags_sweep(spark, bam_path).filter(F.col("num_flags") <= max_flags)
    ann = annotate_positions(spark, bam_path, sweep.select("block_pos", "offset"))
    return sweep.select("block_pos", "offset", "num_flags").join(
        F.broadcast(ann), ["block_pos", "offset"]
    )


def fp_metadata(spark: SparkSession, bam_path: str) -> DataFrame:
    """CheckerApp.scala:103-134: false-positive positions of the
    upstream-emulating checker (the eager checker has none — pinned by
    tests), annotated with the full checker's flags and next-record
    PosMetadata. The reference throws if the full checker calls an FP
    position a Success; here full-flag presence is part of the output
    (num_flags >= 1 for every FP)."""
    c = calls(spark, bam_path)
    fps = c.filter(F.col("upstream_call") & ~F.col("oracle_call")).select("block_pos", "offset")
    sweep = flags_sweep(spark, bam_path).select("block_pos", "offset", "num_flags")
    ann = annotate_positions(spark, bam_path, fps)
    # One inner pass narrows the full sweep to FP rows (broadcasting the
    # near-empty FP set keeps the sweep from shuffling); the result is tiny,
    # so the outer left join that preserves every FP — even one the sweep
    # somehow lacks flags for (reported as num_flags=0, not dropped) — only
    # broadcasts small sides.
    fp_flags = sweep.join(F.broadcast(fps), ["block_pos", "offset"])
    return (
        fps.join(F.broadcast(fp_flags), ["block_pos", "offset"], "left")
        .join(F.broadcast(ann), ["block_pos", "offset"], "left")
        .fillna({"num_flags": 0})
    )


# ---------------------------------------------------------------------------
# compare-splits over a file list (CompareSplits.scala:40-110): per-file
# Result (split counts, diffs, timings) + A9/A10 stats reduction
# ---------------------------------------------------------------------------


def _compute_splits_one(path: str, split_size: int, upstream: bool) -> tuple[list, float]:
    """Sequentially compute the split→first-record map for ONE file with
    one checker — the per-file unit of work the reference times
    (PathChecks; each file is handled by one task)."""
    import bisect
    import time as _time

    from spark_bam_spark.bam import bgzf
    from spark_bam_spark.bam.checker import (
        check_record_start,
        check_record_start_upstream,
    )
    from spark_bam_spark.bam.header import parse_header

    check = check_record_start_upstream if upstream else check_record_start
    t0 = _time.perf_counter()
    out: list[tuple[int, int]] = []
    import os as _os

    size = _os.path.getsize(path)
    with open(path, "rb") as f:
        hdr = parse_header(f)
    for s in range(0, size, split_size):
        if s == 0:
            out.append((hdr.end.block_pos, hdr.end.offset))
            continue
        with open(path, "rb") as f:
            f.seek(s)
            probe = f.read(MAX_BLOCK_SIZE * 2)
        rel = bgzf.find_block_start(probe, 0)
        if rel is None:
            continue
        bstart = s + rel
        flat, ustarts, bstarts = _window_with_bounds(path, bstart, _LOOKAHEAD_BLOCKS)
        info = hdr.info()
        found = None
        for cand in range(len(flat)):
            if check(flat, cand, info):
                found = cand
                break
        if found is None:
            continue
        i = bisect.bisect_right(ustarts, found) - 1
        out.append((bstarts[i], found - ustarts[i]))
    ms = (_time.perf_counter() - t0) * 1000
    # collapse duplicate starts (several byte splits can resolve to the
    # same first record near EOF)
    dedup = sorted(set(out))
    return dedup, ms


def compare_splits_multi(spark: SparkSession, paths: list[str], split_size: int = 65536) -> DataFrame:
    """Per-file Result rows (CompareSplits.scala Result): split counts
    from the eager vs upstream-emulating checkers, both-only diffs, and
    per-checker timings. The FILE LIST is the axis of parallelism (one
    task per file — exactly the reference's PathChecks shape)."""
    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        max(1, min(len(paths), 32))
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                eager, eager_ms = _compute_splits_one(row.path, split_size, upstream=False)
                up, up_ms = _compute_splits_one(row.path, split_size, upstream=True)
                se, su = set(eager), set(up)
                rows.append(
                    (
                        row.path,
                        len(eager),
                        len(up),
                        len(se & su),
                        len(se - su),
                        len(su - se),
                        # floor at 1µs: a timing that rounds to 0.0 would
                        # turn the downstream ratio into NaN/0-division
                        max(round(eager_ms, 3), 0.001),
                        max(round(up_ms, 3), 0.001),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "n_eager_splits",
                    "n_upstream_splits",
                    "n_both",
                    "n_eager_only",
                    "n_upstream_only",
                    "eager_ms",
                    "upstream_ms",
                ],
            )

    schema = (
        "path string, n_eager_splits int, n_upstream_splits int, n_both int, "
        "n_eager_only int, n_upstream_only int, eager_ms double, upstream_ms double"
    )
    return files.mapInPandas(gen, schema=schema)


def compare_splits_stats(spark: SparkSession, paths: list[str], split_size: int = 65536) -> DataFrame:
    """A9/A10 reduction over the per-file Results: summed split counts +
    Stats over per-file timing ratios (CompareSplits.scala:61-106 sums
    the Int fields and shows Stats(timingRatios))."""
    per_file = compare_splits_multi(spark, paths, split_size)
    ratio = (F.col("upstream_ms") / F.col("eager_ms")).alias("r")
    return per_file.select("*", ratio).agg(
        F.count("*").alias("n_files"),
        F.sum("n_eager_splits").alias("total_eager_splits"),
        F.sum("n_upstream_splits").alias("total_upstream_splits"),
        F.sum("n_both").alias("total_both"),
        F.sum("n_eager_only").alias("total_eager_only"),
        F.sum("n_upstream_only").alias("total_upstream_only"),
        F.round(F.avg("r"), 4).alias("ratio_mean"),
        F.round(F.stddev_pop("r"), 4).alias("ratio_stddev"),
        F.round(F.min("r"), 4).alias("ratio_min"),
        F.round(F.expr("percentile(r, 0.5)"), 4).alias("ratio_median"),
        F.round(F.max("r"), 4).alias("ratio_max"),
    )
