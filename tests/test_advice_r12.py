"""Regression tests for the round-11 ADVICE findings (fixed in r12).

1. A ``B`` aux array with subtype 'A' is malformed (spec §4.2.4.2:
   legal subtypes are cCsSiIf — 'A' is a standalone type only).  Both
   tag scanners — scalar ``_walk_tags`` and the JVM ``skipTag`` — must
   STOP there identically instead of one path structurally skipping it
   and surfacing later tags the other never reaches.
2. ``write_bam``'s BAI voffsets and ``StreamingBamEncoder``'s agree on
   the corner where the last record ends exactly on a block boundary:
   both report the next-block form ((EOF-marker coffset) << 16 | 0).
3. CLI ``idxstats`` scan fallback classifies coordinate-less records
   (ref_idx<0 OR pos<0) exactly like the BAI pseudo-bins: '*' row,
   unmapped column, regardless of flag 0x4 — so index path and
   fallback report identical rows on identical data.
"""

from __future__ import annotations

import os
import struct

import pytest

from spark_bam_spark.bam.bgzf import EOF_BLOCK, compress_block
from spark_bam_spark.bam.records import BamRecord, _walk_tags, encode_record
from spark_bam_spark.bam.writer import (
    CONTIG_LENGTHS,
    CONTIG_NAMES,
    StreamingBamEncoder,
    encode_header,
    write_bam,
)

# a B array with ILLEGAL subtype 'A' (count 2, two payload bytes), then
# a Z tag a structural skip would surface but a spec-correct stop never
# reaches
_BAD_B = b"XAB" + b"A" + struct.pack("<i", 2) + b"\x01\x02"
_TRAILING_Z = b"XZZ" + b"boom\x00"


def _record_with_bad_b_tag() -> bytes:
    rec = BamRecord(
        qname="r1", flag=0, ref_idx=0, pos=100, mapq=30, cigar=[(0, 4)],
        mate_ref_idx=-1, mate_pos=-1, tlen=0, seq="ACGT", qual=bytes([30] * 4),
    )
    raw = encode_record(rec)[4:] + _BAD_B + _TRAILING_Z
    return struct.pack("<i", len(raw)) + raw


def _write_bad_b_bam(path: str) -> None:
    stream = encode_header(CONTIG_NAMES, CONTIG_LENGTHS) + _record_with_bad_b_tag()
    with open(path, "wb") as f:
        f.write(compress_block(stream))
        f.write(EOF_BLOCK)


def test_scalar_walk_tags_stops_on_b_subtype_a():
    body = _record_with_bad_b_tag()[4:]
    # aux region starts after the fixed fields + name + cigar + seq + qual
    aux_off = len(body) - len(_BAD_B) - len(_TRAILING_Z)
    tags, _ = _walk_tags(body, aux_off, len(body), want_map=True)
    assert "XZ" not in tags  # scan stopped at the malformed B array
    assert tags == {}


def _read_tags(df):
    (row,) = df.select("qname", "tags").collect()
    return dict(row["tags"] or {})


def test_jvm_decoder_stops_on_b_subtype_a(spark, tmp_path):
    from spark_bam_spark.bam import jvmreader
    from spark_bam_spark.bam.reader import read_bam

    if jvmreader.javac_path() is None:
        pytest.skip("no JDK compiler on this machine")
    path = str(tmp_path / "badb.bam")
    _write_bad_b_bam(path)
    df = read_bam(spark, path)
    assert _read_tags(df) == {}  # JVM skipTag stops identically


def test_legal_b_subtypes_still_skipped_structurally():
    """The fix narrows only 'A': a legal B,c array before a Z tag still
    lets the scan reach and surface the Z value on the scalar path."""
    rec = BamRecord(
        qname="r1", flag=0, ref_idx=0, pos=100, mapq=30, cigar=[(0, 4)],
        mate_ref_idx=-1, mate_pos=-1, tlen=0, seq="ACGT", qual=bytes([30] * 4),
    )
    legal_b = b"XBB" + b"c" + struct.pack("<i", 3) + b"\x01\x02\x03"
    raw = encode_record(rec)[4:] + legal_b + _TRAILING_Z
    aux_off = len(raw) - len(legal_b) - len(_TRAILING_Z)
    tags, _ = _walk_tags(raw, aux_off, len(raw), want_map=True)
    assert tags == {"XZ": "boom"}


def _block_boundary_fixture():
    """Two records plus a block_payload chosen so the stream length is
    an exact multiple of it — the LAST record ends exactly on a block
    boundary (the ADVICE r11 corner)."""
    header = encode_header(CONTIG_NAMES, CONTIG_LENGTHS)

    def rec(qname: str) -> BamRecord:
        return BamRecord(
            qname=qname, flag=0, ref_idx=0, pos=500, mapq=30, cigar=[(0, 8)],
            mate_ref_idx=-1, mate_pos=-1, tlen=0, seq="ACGTACGT",
            qual=bytes([30] * 8),
        )

    recs = [rec("q1"), rec("q2")]
    total = len(header) + sum(len(encode_record(r)) for r in recs)
    bp = next(d for d in range(64, total + 1) if total % d == 0)
    assert total % bp == 0
    return recs, bp


def test_writer_bai_voffsets_agree_on_exact_block_boundary(tmp_path):
    """ADVICE r11: when the stream ends exactly on a block boundary,
    write_bam's to_pos now reports the next-block form — identical BAI
    bytes to StreamingBamEncoder for the same records/options."""
    recs, bp = _block_boundary_fixture()
    p1 = str(tmp_path / "oneshot.bam")
    write_bam(p1, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=bp,
              sidecars=False, bai=True)
    p2 = str(tmp_path / "streamed.bam")
    with open(p2, "wb") as f:
        enc = StreamingBamEncoder(f, CONTIG_NAMES, CONTIG_LENGTHS,
                                  block_payload=bp, bai=True)
        for r in recs:
            enc.add(r)
        enc.finish()
    from spark_bam_spark.bam.bai import write_bai

    write_bai(p2 + ".bai", enc.bai.index())
    with open(p1, "rb") as f:
        b1 = f.read()
    with open(p2, "rb") as f:
        b2 = f.read()
    assert b1 == b2  # BAM byte parity (pre-existing)
    with open(p1 + ".bai", "rb") as f:
        i1 = f.read()
    with open(p2 + ".bai", "rb") as f:
        i2 = f.read()
    assert i1 == i2  # BAI parity incl. the boundary voffset span (r12)


def test_idxstats_fallback_matches_bai_classification(spark, tmp_path, capsys):
    """A record with ref_idx>=0 but pos<0, and an unplaced record
    WITHOUT flag 0x4, land in the same rows on both idxstats paths."""
    from spark_bam_spark import cli

    recs = [
        BamRecord(qname="m1", flag=0, ref_idx=0, pos=100, mapq=30,
                  cigar=[(0, 4)], mate_ref_idx=-1, mate_pos=-1, tlen=0,
                  seq="ACGT", qual=bytes([30] * 4)),
        # placed-ref but NO coordinate: BAI counts it in the '*' no-coor
        # row (BaiAccumulator.add: ref_idx<0 OR pos<0)
        BamRecord(qname="m2", flag=0x4, ref_idx=1, pos=-1, mapq=0,
                  cigar=[], mate_ref_idx=-1, mate_pos=-1, tlen=0,
                  seq="ACGT", qual=bytes([30] * 4)),
        # unplaced and flag says mapped — still '*' unmapped per the BAI
        BamRecord(qname="m3", flag=0, ref_idx=-1, pos=-1, mapq=0,
                  cigar=[], mate_ref_idx=-1, mate_pos=-1, tlen=0,
                  seq="ACGT", qual=bytes([30] * 4)),
    ]
    indexed = str(tmp_path / "withbai.bam")
    write_bam(indexed, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=2048,
              sidecars=False, bai=True)
    bare = str(tmp_path / "nobai.bam")
    write_bam(bare, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=2048,
              sidecars=False, bai=False)
    assert os.path.exists(indexed + ".bai") and not os.path.exists(bare + ".bai")

    def run(path):
        args = cli.build_parser().parse_args(["idxstats", path])
        cli.run(args, spark)
        out = capsys.readouterr().out.strip().splitlines()
        assert out[0] == "rname,mapped,unmapped"
        return sorted(tuple(ln.split(",")) for ln in out[1:])

    got_indexed = run(indexed)
    got_bare = run(bare)
    assert got_indexed == got_bare
    # and both follow the BAI classification: 1 mapped on contig '1',
    # the two coordinate-less records in '*' unmapped
    assert got_indexed == [("*", "0", "2"), ("1", "1", "0")]
