"""The JVM DSv2 BAM writer (bamjvm/BamWriteSupport.java), reached through
``bam/reader.py::write_bam_df``.

Its content contract is checked against the pure-Python oracle encoder
(writer.StreamingBamEncoder, via tests/bam_oracle.py): for the same
records and options a one-partition write has the same header bytes, the
same record encoding, the same exact block_payload slicing, and so the
same block count, the same per-block (ISIZE, CRC32) footers and the same
uncompressed stream.  The deflate payloads themselves are byte-identical
only when the JVM codec falls back to java.util.zip; with libdeflate (an
optional runtime dependency, used whenever its JNI shim loads) they
differ, and every JVM block must still inflate through Python's zlib.
The sink streams with O(block) memory and renames into place at commit
(task-retry safe), neither of which changes bytes.
"""

from __future__ import annotations

import bisect
import glob
import os
import struct

import pytest
from pyspark.sql import Row, functions as F

from spark_bam_spark.bam import bgzf, jvmreader
from spark_bam_spark.bam.reader import read_bam, write_bam_df
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES
from tests.bam_oracle import decode_file, encode_part, oracle_rows, scan_rows, to_row

_HAS_JDK = jvmreader.javac_path() is not None
_CONTIGS = ",".join(f"{n}:{ln}" for n, ln in zip(CONTIG_NAMES, CONTIG_LENGTHS))

needs_jdk = pytest.mark.skipif(not _HAS_JDK, reason="no JDK compiler on this machine")


@pytest.fixture(scope="module")
def fixture_path() -> str:
    from spark_bam_spark.queries.bam_qa import _fixture_path

    return _fixture_path()


def _blocks(path: str) -> list[tuple[int, int, int, bytes]]:
    """(offset, ISIZE, CRC32, uncompressed bytes) of every BGZF block,
    the EOF marker included.  Each block is inflated by Python's zlib,
    which also checks both footer fields."""
    out = []
    with open(path, "rb") as f:
        data = f.read()
    off = 0
    while off < len(data):
        bsize = bgzf.parse_block_header(data[off : off + bgzf.BGZF_HEADER_LEN])
        if bsize is None:
            break
        crc, isize = struct.unpack_from("<II", data, off + bsize - 8)
        out.append((off, isize, crc, bgzf.decompress_block(data, off, bsize)))
        off += bsize
    return out


def _uncompressed(path: str) -> bytes:
    return b"".join(b[3] for b in _blocks(path))


def _assert_same_blocks(jvm_part: str, py_part: str) -> None:
    """The writer's content contract against the oracle encoder's file:
    same block count, same per-block (ISIZE, CRC32) sequence, same
    uncompressed stream, and every JVM block inflates through Python's
    zlib."""
    j, p = _blocks(jvm_part), _blocks(py_part)
    assert len(j) == len(p)
    assert [b[1:3] for b in j] == [b[1:3] for b in p]
    assert b"".join(b[3] for b in j) == b"".join(b[3] for b in p)


def _records_by_qname(path: str) -> list:
    """The decoder's records of ``path``, in qname order."""
    _, recs = decode_file(path)
    return sorted((r for _, r in recs), key=lambda r: r.qname)


def _write_one_part(spark, records, out: str, **opts) -> str:
    """``records`` through the JVM sink as one partition; the part path."""
    write_bam_df(spark.createDataFrame([to_row(r) for r in records]).coalesce(1),
                 out, contigs=_CONTIGS, **opts)
    (part,) = glob.glob(out + "/part-*.bam")
    return part


def test_write_bam_df_rejects_bad_writer(spark, tmp_path):
    """There is one writer: selecting one is an unknown argument."""
    df = spark.range(1).select(F.lit("q").alias("qname"))
    with pytest.raises(TypeError, match="writer"):
        write_bam_df(df, str(tmp_path / "x"), **{"writer": "scala"})


# -------------------------------------------------------------- roundtrip


@needs_jdk
def test_jvm_writer_roundtrip_both_readers(spark, fixture_path, tmp_path):
    """Rewrite the fixture in 4 partitions; the output read back by the
    JVM scan and decoded by the Python oracle both carry the source's
    logical fields record for record."""
    src = read_bam(spark, fixture_path, split_size=65536)
    out = str(tmp_path / "rw")
    write_bam_df(src.repartition(4), out, contigs=_CONTIGS, block_payload=4096)
    fields = ["qname", "flag", "rname", "pos", "mapq", "cigar", "tlen", "seq", "qual", "tags"]
    want = oracle_rows(fixture_path, fields)
    assert scan_rows(read_bam(spark, out, split_size=16384), fields) == want
    assert oracle_rows(out, fields) == want


@needs_jdk
def test_jvm_and_python_writers_emit_identical_bytes(spark, fixture_path, tmp_path):
    """Differential contract: the fixture's records written as one
    partition carry the same uncompressed bytes, in identically framed
    blocks, as the oracle encoder's file of the same records."""
    recs = _records_by_qname(fixture_path)
    part = _write_one_part(spark, recs, str(tmp_path / "jvm"), block_payload=4096)
    oracle = encode_part(str(tmp_path / "oracle.bam"), recs, CONTIG_NAMES, CONTIG_LENGTHS, 4096)
    _assert_same_blocks(part, oracle)


@needs_jdk
def test_deflate_level_parity_and_size(spark, fixture_path, tmp_path):
    """deflate_level is a throughput/size knob: the same content contract
    holds at level 1 too, and level 1 output is measurably larger than
    level 6."""
    recs = _records_by_qname(fixture_path)
    part1 = _write_one_part(spark, recs, str(tmp_path / "l1"), block_payload=4096,
                            deflate_level=1)
    oracle = encode_part(str(tmp_path / "oracle.bam"), recs, CONTIG_NAMES, CONTIG_LENGTHS,
                         4096, level=1)
    _assert_same_blocks(part1, oracle)
    part6 = _write_one_part(spark, recs, str(tmp_path / "l6"), block_payload=4096)
    assert os.path.getsize(part1) > os.path.getsize(part6)
    assert read_bam(spark, str(tmp_path / "l1")).count() == len(recs)


@needs_jdk
def test_jvm_writer_no_inprogress_leftovers(spark, fixture_path, tmp_path):
    out = str(tmp_path / "clean")
    write_bam_df(read_bam(spark, fixture_path).limit(10), out, contigs=_CONTIGS)
    assert not glob.glob(out + "/*.inprogress") and not glob.glob(out + "/.*inprogress*")


@needs_jdk
def test_jvm_writer_block_payload_framing(spark, fixture_path, tmp_path):
    """Every BGZF block except the last carries exactly block_payload
    uncompressed bytes (the exact-slicing contract of the oracle
    encoder)."""
    from spark_bam_spark.bam.reader import read_blocks

    out = str(tmp_path / "framed")
    write_bam_df(
        read_bam(spark, fixture_path).repartition(1),
        out,
        contigs=_CONTIGS,
        block_payload=8192,
    )
    part = sorted(glob.glob(out + "/part-*.bam"))[0]
    rows = read_blocks(spark, part).orderBy("start").collect()
    sizes = [r["uncompressed_size"] for r in rows]
    assert all(s == 8192 for s in sizes[:-1])
    assert 0 < sizes[-1] <= 8192
    # EOF marker present
    with open(part, "rb") as f:
        f.seek(-28, os.SEEK_END)
        assert f.read(28) == bgzf.EOF_BLOCK


# ------------------------------------------------- subsets, defaults, nulls


@needs_jdk
def test_jvm_writer_subset_schema_defaults(spark, tmp_path):
    """Any-subset column contract: missing columns take spec defaults,
    rname resolves to ref_idx through the contigs option."""
    rows = [
        Row(qname="r0", rname="1", pos=100, seq="ACGT"),
        Row(qname="r1", rname="3", pos=200, seq="GG"),
        Row(qname="r2", rname="nope", pos=300, seq="T"),
    ]
    df = spark.createDataFrame(rows)
    out = str(tmp_path / "subset")
    write_bam_df(df.coalesce(1), out, contigs=_CONTIGS)
    back = {r["qname"]: r for r in read_bam(spark, out).collect()}
    assert len(back) == 3
    assert back["r0"]["ref_idx"] == 0 and back["r0"]["rname"] == "1"
    assert back["r1"]["ref_idx"] == 2 and back["r1"]["rname"] == "3"
    assert back["r2"]["ref_idx"] == -1  # unknown contig name
    r0 = back["r0"]
    assert r0["flag"] == 0 and r0["mapq"] == 0 and r0["cigar"] == "*"
    assert r0["mate_ref_idx"] == -1 and r0["tlen"] == 0
    assert r0["seq"] == "ACGT" and dict(r0["tags"]) == {}


@needs_jdk
def test_jvm_writer_null_values_take_defaults(spark, tmp_path):
    """NULL cell values coalesce to the same defaults as missing columns
    (NULL or absent → the spec default)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("qname", StringType()),
            StructField("flag", IntegerType()),
            StructField("rname", StringType()),
            StructField("pos", LongType()),
            StructField("seq", StringType()),
            StructField("qual", StringType()),
            StructField("tags", MapType(StringType(), StringType())),
        ]
    )
    df = spark.createDataFrame(
        [("rn", None, "2", None, None, None, None)], schema=schema
    )
    out = str(tmp_path / "nulls")
    write_bam_df(df, out, contigs=_CONTIGS)
    r = read_bam(spark, out).first()
    assert r["qname"] == "rn" and r["flag"] == 0
    assert r["pos"] == -1  # NULL pos → unplaced
    assert r["seq"] == "" and dict(r["tags"]) == {}


@needs_jdk
def test_jvm_writer_empty_partitions_write_valid_headers(spark, tmp_path):
    """Empty partitions still emit a header-only part-BAM that both the
    scan and the Python decoder read as 0 rows."""
    df = (
        spark.createDataFrame([Row(qname="solo", rname="1", pos=5, seq="A")])
        .repartition(3)
    )
    out = str(tmp_path / "sparse")
    write_bam_df(df, out, contigs=_CONTIGS)
    assert len(glob.glob(out + "/part-*.bam")) == 3
    assert read_bam(spark, out).count() == 1
    assert len(oracle_rows(out)) == 1


@needs_jdk
def test_jvm_writer_int_typed_numeric_columns(spark, tmp_path):
    """pos/mate_pos as int (not the read schema's bigint) still encode."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("qname", StringType()),
            StructField("rname", StringType()),
            StructField("pos", IntegerType()),
            StructField("mate_pos", IntegerType()),
            StructField("seq", StringType()),
        ]
    )
    df = spark.createDataFrame([("i0", "2", 77, 99, "CCC")], schema=schema)
    out = str(tmp_path / "ints")
    write_bam_df(df, out, contigs=_CONTIGS)
    r = read_bam(spark, out).first()
    assert r["pos"] == 77 and r["mate_pos"] == 99 and r["rname"] == "2"


@needs_jdk
def test_jvm_writer_rejects_bad_cigar(spark, tmp_path):
    df = spark.createDataFrame([Row(qname="x", rname="1", pos=1, cigar="4Q", seq="AC")])
    with pytest.raises(Exception, match="invalid cigar"):
        write_bam_df(df, str(tmp_path / "bad"), contigs=_CONTIGS)


@needs_jdk
def test_jvm_writer_rejects_bad_block_payload(spark, tmp_path):
    df = spark.createDataFrame([Row(qname="x", rname="1", pos=1, seq="AC")])
    with pytest.raises(Exception, match="block_payload"):
        write_bam_df(
            df, str(tmp_path / "bp"), contigs=_CONTIGS, block_payload=1 << 20
        )


@needs_jdk
def test_jvm_writer_failed_write_leaves_no_inprogress(spark, tmp_path):
    """A task that fails mid-write must abort its temp file: the output
    dir may keep parts committed by OTHER tasks (append semantics), but
    never a .inprogress file (the rename-on-commit contract)."""
    out = str(tmp_path / "aborted")
    bad = spark.createDataFrame(
        [Row(qname="ok", rname="1", pos=1, cigar="2M", seq="AC"),
         Row(qname="boom", rname="1", pos=2, cigar="9Q", seq="GG")]  # invalid cigar op
    ).coalesce(1)
    with pytest.raises(Exception):
        write_bam_df(bad, out, contigs=_CONTIGS)
    leftovers = [f for f in glob.glob(out + "/*") + glob.glob(out + "/.*")
                 if "inprogress" in f]
    assert leftovers == []


# --------------------------------------------------------------------- bai


def _bai_from_walk(part: str, n_refs: int, block_payload: int) -> bytes:
    """Spec §5.2 index of ``part`` built by ``bai.BaiAccumulator`` from a
    pure-Python walk of its records and their virtual offsets.  An
    offset on a block boundary takes the next-block form, as both
    writers emit it (a stream ending on a full block points at the EOF
    marker)."""
    from spark_bam_spark.bam.bai import BaiAccumulator, write_bai
    from spark_bam_spark.bam.records import decode_record

    *blocks, eof = _blocks(part)
    assert eof[3] == b"" and all(b[3] for b in blocks)
    ustarts = [0]
    for b in blocks[:-1]:
        ustarts.append(ustarts[-1] + len(b[3]))
    stream = b"".join(b[3] for b in blocks)

    def voff(u: int) -> int:
        if u == len(stream) and u % block_payload == 0:
            return eof[0] << 16
        i = bisect.bisect_right(ustarts, u) - 1
        return (blocks[i][0] << 16) | (u - ustarts[i])

    (l_text,) = struct.unpack_from("<i", stream, 4)
    u = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", stream, u)
    u += 4
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", stream, u)
        u += 8 + l_name
    acc = BaiAccumulator(n_refs)
    while u < len(stream):
        rec, size = decode_record(stream, u)
        end = max(rec.end_pos, rec.pos + 1) if rec.pos >= 0 else -1
        acc.add(rec.ref_idx, rec.pos, end, rec.flag, voff(u), voff(u + size))
        u += size
    out = part + ".walk.bai"
    write_bai(out, acc.index())
    with open(out, "rb") as f:
        return f.read()


@needs_jdk
def test_jvm_writer_bai_byte_identical_to_generator(spark, fixture_path, tmp_path):
    """Differential oracle for the write-side BAI emitter: a one-partition
    rewrite in file order with the generator's block_payload reproduces
    the generator's uncompressed stream, and the emitted .bai equals,
    byte for byte, the index that bai.BaiAccumulator builds from a
    pure-Python walk of that part file's records and virtual offsets
    (same bins, same chunk merging, same linear index, same metadata)."""
    src = read_bam(spark, fixture_path, split_size=1 << 30)  # one split: file order
    out = str(tmp_path / "rw")
    write_bam_df(src.coalesce(1), out, contigs=_CONTIGS, block_payload=4096, bai=True)
    part = sorted(glob.glob(out + "/part-*.bam"))[0]
    assert _uncompressed(part) == _uncompressed(fixture_path)
    with open(part + ".bai", "rb") as f:
        assert f.read() == _bai_from_walk(part, len(CONTIG_NAMES), 4096)


@needs_jdk
def test_bai_pushdown_on_rewritten_output(spark, fixture_path, tmp_path):
    """bai=True makes interval queries over the rewritten directory
    index-pruned with no separate indexing pass: same rows as the
    unindexed filter, strictly fewer input splits.  Partitions must be
    coordinate-sorted (the spec's contract for BAI)."""
    src = read_bam(spark, fixture_path, split_size=65536)
    out = str(tmp_path / "rw")
    write_bam_df(
        src.repartition(4).sortWithinPartitions("ref_idx", "pos"),
        out, contigs=_CONTIGS, block_payload=4096, bai=True,
    )
    assert len(glob.glob(out + "/part-*.bam.bai")) == 4
    interval = (F.col("rname") == "1") & (F.col("pos") >= 13000) & (F.col("pos") < 200_000)
    full = read_bam(spark, out, split_size=8192)
    pruned = full.filter(interval).select("qname", "pos")
    expected = sorted(
        r["qname"] for r in src.filter(interval).select("qname").collect()
    )
    got = sorted(r["qname"] for r in pruned.collect())
    assert got == expected and len(got) > 0
    assert pruned.rdd.getNumPartitions() < full.select("pos").rdd.getNumPartitions()


@needs_jdk
def test_bai_rejects_unsorted_partitions(spark, tmp_path):
    """An unsorted partition with bai=True must fail loudly (the BAI
    linear-index floor is only sound for coordinate-sorted data — the
    same contract samtools index enforces), never emit a silently
    mispruning index."""
    rows = [Row(qname="a", rname="1", pos=500_000, cigar="2M", seq="AC"),
            Row(qname="b", rname="1", pos=100, cigar="2M", seq="GG")]
    df = spark.createDataFrame(rows).coalesce(1)
    with pytest.raises(Exception, match="coordinate-sorted"):
        write_bam_df(df, str(tmp_path / "u"), contigs=_CONTIGS, bai=True)


@needs_jdk
def test_bai_metadata_pseudobin_idxstats(spark, fixture_path, tmp_path):
    """The writers emit samtools' metadata pseudo-bin (37450) and the
    trailing no-coordinate count, so idxstats comes from the index alone:
    summed across a 4-part sorted rewrite it must equal a real scan's
    per-ref counts."""
    from spark_bam_spark.bam.bai import idxstats_from_bai, parse_bai

    src = read_bam(spark, fixture_path, split_size=65536)
    out = str(tmp_path / "rw")
    sort_key = F.when(F.col("ref_idx") < 0, F.lit(1 << 40)).otherwise(
        F.col("ref_idx").cast("long") * (1 << 32) + F.col("pos")
    )
    write_bam_df(
        src.withColumn("_k", sort_key).repartitionByRange(4, "_k")
        .sortWithinPartitions("_k").drop("_k"),
        out, contigs=_CONTIGS, block_payload=4096, bai=True,
    )
    mapped = {}
    no_coor = 0
    for p in sorted(glob.glob(out + "/part-*.bam.bai")):
        per_ref, nc = idxstats_from_bai(parse_bai(p))
        no_coor += nc
        for ref, m, u in per_ref:
            mapped[ref] = mapped.get(ref, 0) + m
            assert u == 0  # fixture has no placed-but-unmapped reads
    want = {
        r["ref_idx"]: r["n"]
        for r in src.filter(F.col("ref_idx") >= 0).groupBy("ref_idx").agg(
            F.count("*").alias("n")).collect()
    }
    assert mapped == want
    assert no_coor == src.filter(F.col("ref_idx") < 0).count()


def test_parse_bai_without_stats_is_backward_compatible(tmp_path):
    """A pre-r10 .bai (no pseudo-bin, no trailing count) still parses:
    stats None per ref, n_no_coor 0, chunk queries unaffected."""
    from spark_bam_spark.bam.bai import BaiIndex, parse_bai, write_bai
    from spark_bam_spark.bam.bgzf import Pos

    idx = BaiIndex(
        bins=[{100: []}, {}],
        linear=[[Pos(0, 0).to_voffset()], []],
    )
    p = str(tmp_path / "old.bai")
    write_bai(p, idx)
    with open(p, "rb") as f:
        data = f.read()
    with open(p, "wb") as f:  # strip the trailing n_no_coor → pre-r10 layout
        f.write(data[:-8])
    back = parse_bai(p)
    assert back.stats == [None, None] and back.n_no_coor == 0


@needs_jdk
def test_append_mode_never_clobbers_earlier_parts(spark, fixture_path, tmp_path):
    """ADVICE r10: part names carry a per-job unique token, so
    df.write.mode('append') into a directory that already holds output
    adds parts instead of silently replacing same-numbered ones."""
    out = str(tmp_path / "ap")
    first = read_bam(spark, fixture_path).limit(100).coalesce(1)
    write_bam_df(first, out, contigs=_CONTIGS)
    second = read_bam(spark, fixture_path).limit(40).coalesce(1)
    write_bam_df(second, out, contigs=_CONTIGS)
    assert len(glob.glob(out + "/part-*.bam")) == 2
    assert read_bam(spark, out).count() == 140


@needs_jdk
def test_overwrite_mode_replaces_directory(spark, fixture_path, tmp_path):
    """mode='overwrite' replaces the target directory (SupportsTruncate on
    the JVM sink) — a stale part file from a wider earlier write must not
    survive."""
    out = str(tmp_path / "ow")
    first = read_bam(spark, fixture_path).limit(100).repartition(4)
    write_bam_df(first, out, contigs=_CONTIGS)
    assert len(glob.glob(out + "/part-*.bam")) == 4
    second = read_bam(spark, fixture_path).limit(30).coalesce(1)
    write_bam_df(second, out, contigs=_CONTIGS, mode="overwrite")
    assert len(glob.glob(out + "/part-*.bam")) == 1
    assert read_bam(spark, out).count() == 30


@needs_jdk
def test_out_of_int32_numeric_fails_loudly(spark, tmp_path):
    """ADVICE r10: long-typed numerics that exceed the spec's int32
    fields must throw (the JVM sink used to truncate silently via (int)
    casts where the oracle encoder's struct.pack raises)."""
    rows = [Row(qname="x", rname="1", pos=2**31, cigar="2M", seq="AC")]
    df = spark.createDataFrame(rows).coalesce(1)
    with pytest.raises(Exception, match="int32|2147483647"):
        write_bam_df(df, str(tmp_path / "ov"), contigs=_CONTIGS)


def test_write_bam_df_rejects_bad_mode(spark, tmp_path):
    df = spark.createDataFrame([Row(qname="x", rname="1", pos=1, seq="AC")])
    with pytest.raises(ValueError, match="mode must be"):
        write_bam_df(df, str(tmp_path / "m"), contigs=_CONTIGS, mode="ignore")


# ------------------------------------------- gated differential fuzz

_FUZZ = os.environ.get("SPARK_GRAFT_JVM_FUZZ") == "1"


@needs_jdk
@pytest.mark.skipif(not _FUZZ, reason="set SPARK_GRAFT_JVM_FUZZ=1 to run")
def test_fuzz_writer_byte_parity(spark, tmp_path_factory):
    """Hypothesis sweep over the record space (count, block geometry,
    RNG seed): for the same single-partition input and options the JVM
    writer and the oracle encoder must emit files with identical blocks'
    content (_assert_same_blocks) — the generalization of
    test_jvm_and_python_writers_emit_identical_bytes' one fixed corner.
    Env-gated: each example builds a DataFrame and runs a write job."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    from spark_bam_spark.bam.writer import synth_records

    base = tmp_path_factory.mktemp("writer_fuzz")
    counter = {"i": 0}

    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(0, 10_000),
        n=st.integers(0, 400),
        block_payload=st.sampled_from([512, 937, 4096, 17001, 65280]),
        long_cigar=st.booleans(),
    )
    def check(seed, n, block_payload, long_cigar):
        counter["i"] += 1
        src = synth_records(n, seed=seed)
        if long_cigar:
            # §4.2.2 corner: one >uint16-op record exercises the
            # placeholder + CG:B,I emission on both sides
            from spark_bam_spark.bam.records import BamRecord

            n_ops = 65_536 + seed % 64
            ops = [(0, 1) if i % 2 == 0 else (1, 1) for i in range(n_ops)]
            lseq = n_ops
            src.insert(len(src) // 2, BamRecord(
                qname=f"long{seed}", flag=0, ref_idx=0, pos=777, mapq=1,
                cigar=ops, mate_ref_idx=-1, mate_pos=-1, tlen=0,
                seq=("ACGT" * (lseq // 4 + 1))[:lseq],
                qual=bytes([30]) * lseq, tags={"RG": "rgf"},
            ))
        recs = [to_row(r) for r in src]
        if recs:
            df = spark.createDataFrame(recs).coalesce(1)
        else:
            from pyspark.sql.types import (
                IntegerType, LongType, MapType, StringType, StructField, StructType,
            )

            df = spark.createDataFrame([], schema=StructType([
                StructField("qname", StringType()), StructField("flag", IntegerType()),
                StructField("ref_idx", IntegerType()), StructField("pos", LongType()),
                StructField("mapq", IntegerType()), StructField("cigar", StringType()),
                StructField("mate_ref_idx", IntegerType()),
                StructField("mate_pos", LongType()), StructField("tlen", IntegerType()),
                StructField("seq", StringType()), StructField("qual", StringType()),
                StructField("tags", MapType(StringType(), StringType())),
            ])).coalesce(1)
        out = str(base / f"e{counter['i']}")
        write_bam_df(df, out, contigs=_CONTIGS, block_payload=block_payload)
        (part,) = sorted(glob.glob(out + "/part-*.bam"))
        oracle = encode_part(out + ".oracle.bam", src, CONTIG_NAMES, CONTIG_LENGTHS,
                             block_payload)
        _assert_same_blocks(part, oracle)

    check()


# ----------------------------------------------------------------- queries


@needs_jdk
def test_bam_sort_rewrite_query(spark):
    """The distributed-sort query: de-sorted input → range partition →
    in-partition sort → indexed write → re-derived verdict row."""
    from spark_bam_spark.queries import load_all

    row = load_all()["bam_sort_rewrite"].fn(spark, "/root/testdata/sf0.001").first()
    assert row["n_records"] == 2500
    assert row["globally_sorted"] and row["roundtrip_match"]


@needs_jdk
def test_rewrite_roundtrip_queries_all_match(spark, sf_small):
    from spark_bam_spark.queries import REGISTRY

    row = REGISTRY["bam_rewrite_roundtrip"].fn(spark, sf_small).first()
    assert row["n_mismatch"] == 0 and row["all_match"]
