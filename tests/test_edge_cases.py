"""Edge cases the format layer must survive: empty files, all-unplaced
reads, single-record files, oversized split sizes, records far larger
than one BGZF block (the reference's 'future-proofing' concern —
docs/motivation.md notes upstream rejects reads spanning blocks; this
engine must not), and sub-record block slicing."""

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam
from spark_bam_spark.bam.records import BamRecord
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, synth_records, write_bam
from tests.bam_oracle import oracle_rows, scan_rows

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)


@pytest.fixture(scope="module")
def spark_bam(spark):
    jvmreader.ensure_session(spark)
    return spark


def _rec(i, seq):
    return BamRecord(
        qname=f"edge{i:04d}",
        flag=0x1,
        ref_idx=0,
        pos=1000 * (i + 1),
        mapq=30,
        cigar=[(0, len(seq))],
        mate_ref_idx=0,
        mate_pos=1000 * (i + 1) + 150,
        tlen=300,
        seq=seq,
        qual=bytes([30] * len(seq)),
        tags={"RG": "rg0"},
    )


def test_empty_bam_scans_to_zero_rows(spark_bam, tmp_path):
    path = str(tmp_path / "empty.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, [])
    df = read_bam(spark_bam, path)
    assert df.count() == 0


def test_single_record(spark_bam, tmp_path):
    path = str(tmp_path / "one.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, [_rec(0, "ACGT" * 10)])
    rows = read_bam(spark_bam, path).collect()
    assert len(rows) == 1 and rows[0]["qname"] == "edge0000"


def test_split_size_larger_than_file(spark_bam, tmp_path):
    path = str(tmp_path / "big_split.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, synth_records(50, seed=3))
    df = read_bam(spark_bam, path, split_size=1 << 30)
    assert df.count() == 50


def test_all_unplaced_reads(spark_bam, tmp_path):
    path = str(tmp_path / "unplaced.bam")
    recs = [
        BamRecord(
            qname=f"u{i}", flag=0x5, ref_idx=-1, pos=-1, mapq=0, cigar=[],
            mate_ref_idx=-1, mate_pos=-1, tlen=0, seq="ACGT", qual=b"\x1e" * 4,
        )
        for i in range(20)
    ]
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs)
    df = read_bam(spark_bam, path)
    assert df.count() == 20
    assert df.filter(F.col("rname").isNull()).count() == 20


def test_long_reads_spanning_many_blocks(spark_bam, tmp_path):
    """A 200 kbp read is >3 BGZF blocks long. The reference documents
    that upstream rejects these; our reader's lazily-extended window
    must decode them for ANY split size."""
    path = str(tmp_path / "long.bam")
    long_seq = ("ACGT" * 50_000)  # 200k bases
    recs = [_rec(i, long_seq if i % 3 == 0 else "ACGT" * 30) for i in range(12)]
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=0xFF00)
    want = oracle_rows(path)
    for split in (16384, 65536, 1 << 20):
        df = read_bam(spark_bam, path, split_size=split)
        got = {r["qname"]: r["seq_len"] for r in df.select("qname", "seq_len").collect()}
        assert len(got) == 12, f"split={split}"
        assert all(got[f"edge{i:04d}"] == (200_000 if i % 3 == 0 else 120) for i in range(12))
        assert scan_rows(df) == want, f"split={split}"


def test_tiny_blocks_sub_record_slicing(spark_bam, tmp_path):
    """block_payload smaller than one record: every record spans several
    blocks; boundary search + ownership rule must still be exact."""
    path = str(tmp_path / "tiny_blocks.bam")
    recs = synth_records(80, seed=9)
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=96)
    for split in (512, 4096):
        df = read_bam(spark_bam, path, split_size=split)
        assert df.count() == 80, f"split={split}"
        names = sorted(r["qname"] for r in df.select("qname").collect())
        assert names == sorted(r.qname for r in recs)


# how each corruption of the third block is made, and what the readers
# must raise: a flipped stored CRC leaves ISIZE and the deflate stream
# valid, so only the CRC32 check can object; a wrong stored ISIZE only
# the ISIZE check; a flipped payload byte may trip any of the three
# checks, depending on where the deflate stream goes wrong
_CORRUPTIONS = {
    "crc": (lambda start, bsize: start + bsize - 8, "CRC32 mismatch"),
    "isize": (lambda start, bsize: start + bsize - 4, "ISIZE mismatch"),
    "payload": (lambda start, bsize: start + (18 + bsize - 8) // 2,
                "CRC32 mismatch|ISIZE mismatch|corrupt BGZF deflate payload"
                "|while decompressing data"),
}


@pytest.mark.parametrize("corruption", sorted(_CORRUPTIONS))
def test_corrupt_block_fails_loudly_both_readers(spark_bam, tmp_path, corruption):
    """A mid-file block with a corrupt footer field or deflate payload
    must fail loudly in the JVM scan and in the Python decoder alike —
    never decode silently.  The JVM reader inflates through libdeflate
    where it loads, so this also pins that codec's error paths to the
    zlib ones' messages."""
    from spark_bam_spark.bam import bgzf

    path = str(tmp_path / "rot.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, synth_records(300, seed=5),
              block_payload=4096)
    with open(path, "rb") as f:
        data = bytearray(f.read())
    start = 0
    for _ in range(2):
        start += bgzf.parse_block_header(data[start : start + bgzf.BGZF_HEADER_LEN])
    bsize = bgzf.parse_block_header(data[start : start + bgzf.BGZF_HEADER_LEN])
    where, message = _CORRUPTIONS[corruption]
    data[where(start, bsize)] ^= 0xFF
    bad = str(tmp_path / "rot_flipped.bam")
    with open(bad, "wb") as f:
        f.write(bytes(data))
    with pytest.raises(Exception, match=message):
        read_bam(spark_bam, bad, split_size=1 << 30).count()
    with pytest.raises(Exception, match=message):
        oracle_rows(bad)


def test_corrupt_crc_permissive_salvage_parity(spark_bam, tmp_path):
    """Permissive mode over a CRC-only corruption (stored CRC flipped:
    the payload still inflates, ISIZE matches, only the CRC check
    objects) salvages real records instead of crashing: every salvaged
    row equals the Python decoder's row of the clean file, and every
    split that starts after the corrupt block serves all of its
    records."""
    import shutil

    from spark_bam_spark.bam import bgzf

    clean = str(tmp_path / "clean.bam")
    res = write_bam(clean, CONTIG_NAMES, CONTIG_LENGTHS, synth_records(1200, seed=11),
                    block_payload=2048)
    path = str(tmp_path / "rot.bam")
    shutil.copy(clean, path)
    blocks = sorted(res.blocks, key=lambda b: b.start)
    victim = blocks[len(blocks) // 2]
    with open(path, "r+b") as f:
        f.seek(victim.start)
        bsize = bgzf.parse_block_header(f.read(bgzf.BGZF_HEADER_LEN))
        f.seek(victim.start + bsize - 8)
        crc_byte = f.read(1)
        f.seek(victim.start + bsize - 8)
        f.write(bytes([crc_byte[0] ^ 0xFF]))

    want = oracle_rows(clean)
    got = scan_rows(read_bam(spark_bam, path, split_size=4096, mode="permissive"))
    assert 0 < len(got) < 1200
    assert set(got) <= set(want)
    resync = -(-(victim.start + bsize) // 4096) * 4096
    after = [t for t in want if t[-2] >= resync]  # block_pos
    assert after and set(after) <= set(got)
