"""BGZF block layer — pure Python, from the public BGZF spec (SAM/BAM
spec §4.1: gzip members with a BC extra subfield carrying the block size).

Behavior parity targets in the reference (cited, not copied):
- block geometry & 64 KiB cap: bgzf/.../block/Block.scala:49
- header parse & magic check: bgzf/.../block/Header.scala:48-83
- sequential/seekable streams: bgzf/.../block/Stream.scala:16-122
- header-only metadata walk: bgzf/.../block/MetadataStream.scala:16-57
- block-start search: bgzf/.../block/FindBlockStart.scala:8-37
- virtual position: bgzf/.../Pos.scala:12-41
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass
from typing import BinaryIO, Iterator

MAX_BLOCK_SIZE = 64 * 1024
# gzip magic + CM=8 (deflate) + FLG=4 (FEXTRA)
_MAGIC = b"\x1f\x8b\x08\x04"
# standard 28-byte BGZF EOF marker (public constant from the spec)
EOF_BLOCK = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")
BGZF_HEADER_LEN = 18  # fixed layout we write: 12 + XLEN(6)
BGZF_FOOTER_LEN = 8  # CRC32 + ISIZE
DEFAULT_BGZF_BLOCKS_TO_CHECK = 5  # bgzf/.../block/package.scala:20


@dataclass(frozen=True, order=True)
class Pos:
    """Virtual position: compressed offset of block start + uncompressed
    offset within the block. Total order is lexicographic (Pos.scala:41);
    packs to the HTSJDK 48/16-bit virtual offset (Pos.scala:24)."""

    block_pos: int
    offset: int

    def to_voffset(self) -> int:
        return (self.block_pos << 16) | self.offset

    @staticmethod
    def from_voffset(v: int) -> "Pos":
        return Pos(v >> 16, v & 0xFFFF)


@dataclass(frozen=True)
class BlockMetadata:
    """(start, compressedSize, uncompressedSize) — Metadata.scala:6."""

    start: int
    compressed_size: int
    uncompressed_size: int


def parse_block_header(buf: bytes, off: int = 0) -> int | None:
    """Return the total compressed block size at ``buf[off:]``, or None if
    no valid BGZF header starts there. Validates magic, FEXTRA layout, and
    the BC subfield (Header.scala:60-76)."""
    if len(buf) - off < BGZF_HEADER_LEN:
        return None
    if buf[off : off + 4] != _MAGIC:
        return None
    xlen = struct.unpack_from("<H", buf, off + 10)[0]
    if len(buf) - off < 12 + xlen:
        return None
    # scan extra subfields for BC
    p = off + 12
    end = off + 12 + xlen
    while p + 4 <= end:
        si1, si2, slen = buf[p], buf[p + 1], struct.unpack_from("<H", buf, p + 2)[0]
        if si1 == 66 and si2 == 67 and slen == 2:
            if p + 6 > end:
                return None
            bsize = struct.unpack_from("<H", buf, p + 4)[0] + 1
            if bsize < 12 + xlen + BGZF_FOOTER_LEN or bsize > MAX_BLOCK_SIZE:
                return None
            return bsize
        p += 4 + slen
    return None


def decompress_block(buf: bytes, off: int, bsize: int) -> bytes:
    """Inflate one block's payload (Stream.scala:49-54). ``buf`` must hold
    the whole block.  Validates BOTH footer fields: ISIZE and CRC32 of
    the uncompressed data (r11 — a flipped payload bit that still
    inflates to the right length would otherwise decode silently; at
    100 TB bit rot is an expectation, and htslib/samtools validate the
    same way).  zlib.crc32 is C-speed, far cheaper than the inflate."""
    xlen = struct.unpack_from("<H", buf, off + 10)[0]
    payload = buf[off + 12 + xlen : off + bsize - BGZF_FOOTER_LEN]
    data = zlib.decompress(payload, wbits=-15)
    crc, isize = struct.unpack_from("<II", buf, off + bsize - 8)
    if len(data) != isize:
        raise ValueError(f"BGZF ISIZE mismatch at {off}: {len(data)} != {isize}")
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError(f"BGZF CRC32 mismatch at {off}: corrupt block payload")
    return data


def compress_block(data: bytes, level: int = 6) -> bytes:
    """Emit one standard BGZF block (18-byte header, deflate payload,
    CRC32+ISIZE footer) for ≤64 KiB of uncompressed data."""
    if len(data) > MAX_BLOCK_SIZE:
        raise ValueError("BGZF block payload must be <= 64 KiB")
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    payload = co.compress(data) + co.flush()
    bsize = BGZF_HEADER_LEN + len(payload) + BGZF_FOOTER_LEN
    if bsize > MAX_BLOCK_SIZE:
        raise ValueError("compressed BGZF block exceeds 64 KiB")
    header = _MAGIC + b"\x00\x00\x00\x00\x00\xff" + struct.pack("<H", 6) + b"BC" + struct.pack("<HH", 2, bsize - 1)
    footer = struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF, len(data))
    return header + payload + footer


def metadata_stream(f: BinaryIO, start: int = 0) -> Iterator[BlockMetadata]:
    """Header-only block walk — skips payload decompression
    (MetadataStream.scala:16-57). Stops at EOF or the BGZF EOF block."""
    pos = start
    f.seek(pos)
    while True:
        head = f.read(BGZF_HEADER_LEN)
        if len(head) < BGZF_HEADER_LEN:
            return
        bsize = parse_block_header(head)
        if bsize is None:
            raise ValueError(f"invalid BGZF header at {pos}")
        f.seek(pos + bsize - 4)
        isize = struct.unpack("<I", f.read(4))[0]
        if isize == 0:
            return  # EOF block
        yield BlockMetadata(pos, bsize, isize)
        pos += bsize
        f.seek(pos)


def block_stream(f: BinaryIO, start: int = 0) -> Iterator[tuple[BlockMetadata, bytes]]:
    """Sequential decompressing walk (Stream.scala:16-75)."""
    pos = start
    f.seek(pos)
    while True:
        head = f.read(MAX_BLOCK_SIZE)
        if len(head) < BGZF_HEADER_LEN:
            return
        bsize = parse_block_header(head)
        if bsize is None:
            raise ValueError(f"invalid BGZF header at {pos}")
        while len(head) < bsize:  # short read near EOF of a buffer
            more = f.read(bsize - len(head))
            if not more:
                raise ValueError(f"truncated BGZF block at {pos}")
            head += more
        data = decompress_block(head, 0, bsize)
        if len(data) == 0:
            return  # EOF block
        yield BlockMetadata(pos, bsize, len(data)), data
        pos += bsize
        f.seek(pos)


def find_block_start(
    buf: bytes,
    search_from: int = 0,
    blocks_to_check: int = DEFAULT_BGZF_BLOCKS_TO_CHECK,
) -> int | None:
    """Scan forward ≤64 KiB for an offset where ``blocks_to_check``
    consecutive block headers parse (FindBlockStart.scala:8-37). Fewer
    consecutive checks are accepted when the buffer ends first or the
    chain reaches an ISIZE-0 (EOF) block, so bytes after the EOF block
    are never parsed."""
    limit = min(len(buf), search_from + MAX_BLOCK_SIZE)
    # candidates are only offsets bearing the 4-byte gzip+FEXTRA magic —
    # bytes.find is a C-speed scan, so we parse headers at ~1 offset per
    # block instead of every byte (same acceptance logic as the
    # reference's per-offset probe, ~30x fewer parse attempts)
    magic = b"\x1f\x8b\x08\x04"
    cand = buf.find(magic, search_from, limit + len(magic))
    while 0 <= cand < limit:
        p = cand
        ok = 0
        while ok < blocks_to_check:
            bsize = parse_block_header(buf, p)
            if bsize is None:
                # accept if we ran off the buffer after >=1 good block
                if ok > 0 and len(buf) - p < BGZF_HEADER_LEN:
                    break
                ok = -1
                break
            ok += 1
            if p + bsize <= len(buf) and struct.unpack_from("<I", buf, p + bsize - 4)[0] == 0:
                break  # the EOF block ends the stream
            p += bsize
        if ok >= 1 and ok != -1:
            return cand
        cand = buf.find(magic, cand + 1, limit + len(magic))
    return None
