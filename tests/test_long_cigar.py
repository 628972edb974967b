"""Spec §4.2.2 long-cigar fallback: BAM stores n_cigar_op as uint16, so
alignments with >65,535 cigar operations (real in long-read corpora — the
GiaB PacBio class in BASELINE.md) store the placeholder kSmN in the cigar
field (k = l_seq as S, m = reference-consumed as N) and the real ops in a
CG:B,I tag, the htslib/samtools convention.

The engine's contract, pinned identically across the decode paths (the
Python scalar oracle and the JVM columnar reader) and between the JVM
writer and the oracle encoder:

- readers promote the CG array into 'cigar'/'n_cigar_ops'/'end_pos' and
  keep CG out of the tags map (samtools transparency);
- writers emit the placeholder + CG (appended after the Z tags) whenever
  the cigar overflows uint16, with identical uncompressed bytes in both
  languages;
- a user-supplied CG tag alongside an overflowing cigar is ambiguous and
  rejected loudly by the writer.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam, write_bam_df
from spark_bam_spark.bam.records import BamRecord, decode_record, encode_record
from spark_bam_spark.bam.writer import (
    CONTIG_LENGTHS,
    CONTIG_NAMES,
    synth_records,
    write_bam,
)
from tests.bam_oracle import decode_file, encode_part, oracle_rows, scan_rows, to_row

_HAS_JDK = jvmreader.javac_path() is not None
needs_jdk = pytest.mark.skipif(not _HAS_JDK, reason="no JDK")
_CONTIGS = ",".join(f"{n}:{ln}" for n, ln in zip(CONTIG_NAMES, CONTIG_LENGTHS))

N_OPS = 70_000  # > 0xFFFF


def _long_ops() -> list[tuple[int, int]]:
    # alternating 1M/1I: query-consumed = N_OPS, reference-consumed = N_OPS/2
    return [(0, 1) if i % 2 == 0 else (1, 1) for i in range(N_OPS)]


def _long_record(tags: dict | None = None) -> BamRecord:
    seq = ("ACGT" * (N_OPS // 4 + 1))[:N_OPS]
    return BamRecord(
        qname="longread",
        flag=0,
        ref_idx=1,
        pos=12345,
        mapq=50,
        cigar=_long_ops(),
        mate_ref_idx=-1,
        mate_pos=-1,
        tlen=0,
        seq=seq,
        qual=bytes([30]) * N_OPS,
        tags={"RG": "rg9"} if tags is None else tags,
    )


_EXPECT_CIGAR = "".join(f"1{'M' if i % 2 == 0 else 'I'}" for i in range(N_OPS))
_EXPECT_END = 12345 + N_OPS // 2


@pytest.fixture(scope="module")
def long_bam(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("longcigar") / "long.bam")
    recs = synth_records(200, seed=7)
    recs.insert(100, _long_record())
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=4096)
    return path


def test_scalar_encode_stores_placeholder_and_cg():
    import struct

    enc = encode_record(_long_record())
    # body: ref_idx(4) pos(4) l_name(1) mapq(1) bin(2) n_cigar(2) ...
    n_cigar_stored = struct.unpack_from("<H", enc, 4 + 12)[0]
    assert n_cigar_stored == 2
    back, consumed = decode_record(enc, 0)
    assert consumed == len(enc)
    assert back.cigar == _long_ops()
    assert back.n_cigar_ops == N_OPS
    assert back.end_pos == _EXPECT_END
    assert back.tags == {"RG": "rg9"}  # CG promoted, not surfaced


def test_scalar_decode_pruned_tags_still_promotes():
    enc = encode_record(_long_record())
    back, _ = decode_record(enc, 0, want_tags=False)
    assert back.cigar == _long_ops()
    assert back.tags == {}


@needs_jdk
def test_readers_promote_cg_identically(spark, long_bam):
    df = read_bam(spark, long_bam, split_size=16384)
    assert scan_rows(df) == oracle_rows(long_bam)
    row = df.filter(df.qname == "longread").collect()[0]
    assert row["cigar"] == _EXPECT_CIGAR
    assert row["n_cigar_ops"] == N_OPS
    assert row["end_pos"] == _EXPECT_END
    assert dict(row["tags"]) == {"RG": "rg9"}
    assert df.count() == 201
    # pruned projection (cigar without tags) still promotes
    c = df.select("qname", "cigar").filter(df.qname == "longread").collect()[0]
    assert c["cigar"] == _EXPECT_CIGAR


@needs_jdk
def test_writer_roundtrips_long_cigar(spark, long_bam, tmp_path):
    """A reads DataFrame whose 'cigar' column holds the promoted 70k-op
    string round-trips through the writer: the part file stores the
    placeholder + CG tag, and reading it back re-promotes."""
    src = read_bam(spark, long_bam, split_size=1 << 30)
    out = str(tmp_path / "rw")
    write_bam_df(src.coalesce(1), out, contigs=_CONTIGS, block_payload=4096)
    (part,) = glob.glob(out + "/part-*.bam")
    assert decode_file(part)[1][100][1].cigar == decode_file(long_bam)[1][100][1].cigar
    back = read_bam(spark, out)
    row = back.filter(back.qname == "longread").collect()[0]
    assert row["cigar"] == _EXPECT_CIGAR
    assert row["n_cigar_ops"] == N_OPS
    assert dict(row["tags"]) == {"RG": "rg9"}
    assert back.count() == 201


@needs_jdk
def test_writers_byte_identical_on_long_cigar(spark, long_bam, tmp_path):
    """The §4.2.2 placeholder + CG emission is part of the writer's
    content contract: the same uncompressed bytes, in identically framed
    blocks, as the oracle encoder's (the deflate payloads differ when the
    JVM runs libdeflate)."""
    from tests.test_jvm_writer import _assert_same_blocks

    recs = [r for _, r in decode_file(long_bam)[1]]
    out = str(tmp_path / "jvm")
    write_bam_df(spark.createDataFrame([to_row(r) for r in recs]).coalesce(1), out,
                 contigs=_CONTIGS, block_payload=4096)
    (part,) = glob.glob(out + "/part-*.bam")
    oracle = encode_part(str(tmp_path / "oracle.bam"), recs, CONTIG_NAMES, CONTIG_LENGTHS, 4096)
    _assert_same_blocks(part, oracle)


@needs_jdk
def test_writer_rejects_cg_conflict(spark, tmp_path):
    rows = [
        Row(
            qname="x",
            rname="1",
            pos=1,
            cigar=_EXPECT_CIGAR,
            seq=("ACGT" * (N_OPS // 4 + 1))[:N_OPS],
            tags={"CG": "stale"},
        )
    ]
    df = spark.createDataFrame(rows).coalesce(1)
    with pytest.raises(Exception, match="CG"):
        write_bam_df(df, str(tmp_path / "c"), contigs=_CONTIGS)


@needs_jdk
def test_foreign_tag_types_skipped_not_fatal(spark, tmp_path):
    """A/c/C/s/S/i/I/f/H/B tags written by other tools are skipped
    structurally; Z tags AFTER them still surface (the pinned scanner
    contract across all decode paths)."""
    import struct

    rec = BamRecord(
        qname="t",
        flag=0,
        ref_idx=0,
        pos=100,
        mapq=9,
        cigar=[(0, 4)],
        mate_ref_idx=-1,
        mate_pos=-1,
        tlen=0,
        seq="ACGT",
        qual=bytes([30]) * 4,
        tags={},
    )
    enc = encode_record(rec)
    extra = (
        b"XAA!"  # A: printable char
        + b"XBc\x05"  # c: int8
        + b"XCS\x01\x00"  # S: uint16
        + b"XHH4142\x00"  # H: hex string
        + b"XIB" + b"s" + struct.pack("<i", 3) + struct.pack("<3h", 1, 2, 3)  # B,s array
        + b"XZZafter\x00"  # Z after all of them must still surface
    )
    new_body = enc[4:] + extra
    out = struct.pack("<i", len(new_body)) + new_body
    back, consumed = decode_record(out, 0)
    assert consumed == len(out)
    assert back.tags == {"XZ": "after"}
    # end-to-end through the JVM scan
    path = str(tmp_path / "foreign.bam")
    from spark_bam_spark.bam.bgzf import EOF_BLOCK, compress_block
    from spark_bam_spark.bam.writer import encode_header

    stream = encode_header(CONTIG_NAMES, CONTIG_LENGTHS) + out
    with open(path, "wb") as f:
        f.write(compress_block(stream) + EOF_BLOCK)
    df = read_bam(spark, path)
    row = df.collect()[0]
    assert dict(row["tags"]) == {"XZ": "after"}


def test_b_tag_header_at_buffer_end_stops_politely():
    """A truncated aux region ending exactly after a B tag's 3-byte
    header must stop the scan, not raise IndexError (review r11)."""
    import struct

    rec = BamRecord(qname="t", flag=0, ref_idx=0, pos=9, mapq=0, cigar=[(0, 2)],
                    mate_ref_idx=-1, mate_pos=-1, tlen=0, seq="AC",
                    qual=bytes([30]) * 2, tags={"AA": "keep"})
    enc = encode_record(rec)
    new_body = enc[4:] + b"XIB"  # tag + type byte, nothing after
    out = struct.pack("<i", len(new_body)) + new_body
    back, consumed = decode_record(out, 0)
    assert consumed == len(out)
    assert back.tags == {"AA": "keep"}


@needs_jdk
def test_placeholder_over_28bit_ref_consumed_fails_loudly(spark, tmp_path):
    """A >uint16-op cigar whose reference-consumed length exceeds the
    28-bit cigar-op length field (2^28-1 = 268,435,455) cannot be
    represented as a kSmN placeholder — the writer must throw (at the
    same bound as the oracle encoder's struct.pack), never wrap the
    value into a corrupt placeholder."""
    n_ops = 65_537
    cigar = "4100N" * n_ops  # ref consumed ≈ 268.7M > 2^28-1
    rows = [Row(qname="x", rname="1", pos=1, cigar=cigar, seq="")]
    df = spark.createDataFrame(rows).coalesce(1)
    with pytest.raises(Exception, match="28-bit|struct|out of.*range|requires"):
        write_bam_df(df, str(tmp_path / "of"), contigs=_CONTIGS)
