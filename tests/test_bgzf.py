"""BGZF layer unit tests — mirrors the reference's pinned-geometry style
(bgzf StreamTest.scala:36-62, MetadataStreamTest.scala:13-40,
FindBlockStartTest.scala:9-16) over our deterministic fixture."""

from __future__ import annotations

import io
import os

import pytest

from spark_bam_spark.bam import bgzf
from spark_bam_spark.bam.bgzf import (
    EOF_BLOCK,
    Pos,
    compress_block,
    decompress_block,
    find_block_start,
    metadata_stream,
    parse_block_header,
)
from spark_bam_spark.bam.writer import make_fixture


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bam") / "2500.bam")
    return make_fixture(path, n=2500, block_payload=4096)


def test_pos_voffset_roundtrip():
    p = Pos(123456789, 54321)
    assert Pos.from_voffset(p.to_voffset()) == p
    assert Pos(1, 0) < Pos(1, 1) < Pos(2, 0)


def test_block_roundtrip():
    data = b"hello bgzf " * 100
    blk = compress_block(data)
    bsize = parse_block_header(blk)
    assert bsize == len(blk)
    assert decompress_block(blk, 0, bsize) == data


def test_eof_block_is_valid_empty():
    bsize = parse_block_header(EOF_BLOCK)
    assert bsize == len(EOF_BLOCK) == 28
    assert decompress_block(EOF_BLOCK, 0, bsize) == b""


def test_metadata_stream_matches_sidecar(fixture):
    with open(fixture.path, "rb") as f:
        walked = list(metadata_stream(f))
    assert [(b.start, b.compressed_size, b.uncompressed_size) for b in walked] == [
        (b.start, b.compressed_size, b.uncompressed_size) for b in fixture.blocks
    ]
    # contiguity + caps (FIXTURES.md §2)
    for prev, cur in zip(walked, walked[1:]):
        assert prev.start + prev.compressed_size == cur.start
    assert all(b.compressed_size <= 65536 and b.uncompressed_size <= 65536 for b in walked)
    # file ends with block chain + EOF marker
    last = walked[-1]
    assert last.start + last.compressed_size + len(EOF_BLOCK) == os.path.getsize(fixture.path)


def test_find_block_start_from_arbitrary_offsets(fixture):
    raw = open(fixture.path, "rb").read()
    starts = [b.start for b in fixture.blocks]
    # from any offset, the search lands on the next true block start
    for probe in [0, 1, 100, starts[1] - 1, starts[1], starts[1] + 1, starts[5] + 17]:
        found = find_block_start(raw, probe)
        expected = next(s for s in starts + [len(raw) - len(EOF_BLOCK)] if s >= probe)
        assert found == expected, f"probe={probe}"


def test_find_block_start_stops_at_eof_block_before_garbage(fixture):
    """A block-start chain ends at the EOF block, so garbage after it does
    not reject the chains that start in the last data blocks."""
    raw = open(fixture.path, "rb").read() + bytes(range(100))
    eof = len(raw) - 100 - len(EOF_BLOCK)
    for s in [b.start for b in fixture.blocks[-6:]] + [eof]:
        assert find_block_start(raw, s) == s, f"start={s}"
        assert find_block_start(raw, s - 1) == s, f"start={s}"


def test_find_block_start_rejects_garbage():
    assert find_block_start(b"\x00" * 70000, 0) is None


def test_block_stream_equals_concatenated_payloads(fixture):
    with open(fixture.path, "rb") as f:
        total = b"".join(data for _, data in bgzf.block_stream(f))
    # total uncompressed size matches sidecar sum
    assert len(total) == sum(b.uncompressed_size for b in fixture.blocks)


def test_truncated_block_raises():
    data = b"x" * 1000
    blk = compress_block(data)
    f = io.BytesIO(blk[:-10])
    with pytest.raises(ValueError):
        list(bgzf.block_stream(f))


def test_crc_mismatch_raises():
    """r11: decompress_block validates the footer CRC32 of the
    uncompressed data, not just ISIZE — the corruption class where a
    flipped bit still inflates to the right length must fail loudly
    (htslib semantics), never decode silently."""
    data = b"read-payload" * 100
    blk = bytearray(compress_block(data))
    # sanity: pristine block round-trips
    assert bgzf.decompress_block(bytes(blk), 0, len(blk)) == data
    # corrupt the STORED CRC (the payload still inflates cleanly, and
    # ISIZE still matches, so only the CRC check can catch this)
    blk[-8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32"):
        bgzf.decompress_block(bytes(blk), 0, len(blk))
