"""BAM writer + sidecar ground truth + deterministic fixture generator.

Mirrors the reference's sinks and test assets (cited, not copied):
- BAM rewrite sink:      cli/.../rewrite/HTSJDKRewrite.scala:21-93 (S18)
- .blocks sidecar:       bgzf/.../index/IndexBlocks.scala:10-50 (S16)
- .records sidecar:      check/.../index/IndexRecords.scala:13-178 (S17)
- curated fixtures:      test-bams/.../resources/package.scala:11-16

The writer slices the serialized stream into BGZF blocks at arbitrary
byte positions, so records span block boundaries (block-unaligned, the
adversarial case the reference generates via htsjdk-rewrite). Because we
write the bytes ourselves we get exact ground truth for free: the
.records sidecar IS the differential-testing oracle.
"""

from __future__ import annotations

import random
import struct
from dataclasses import dataclass

from spark_bam_spark.bam.bgzf import EOF_BLOCK, BlockMetadata, Pos, compress_block
from spark_bam_spark.bam.records import BamRecord, encode_record

BAM_MAGIC = b"BAM\x01"
DEFAULT_BLOCK_PAYLOAD = 0xFF00  # uncompressed bytes per BGZF block


def encode_header(names: list[str], lengths: list[int], sam_text: str = "") -> bytes:
    if not sam_text:
        sam_text = "@HD\tVN:1.6\tSO:coordinate\n" + "".join(
            f"@SQ\tSN:{n}\tLN:{ln}\n" for n, ln in zip(names, lengths)
        )
    text = sam_text.encode("ascii")
    out = bytearray(BAM_MAGIC)
    out += struct.pack("<i", len(text)) + text
    out += struct.pack("<i", len(names))
    for n, ln in zip(names, lengths):
        nb = n.encode("ascii") + b"\x00"
        out += struct.pack("<i", len(nb)) + nb + struct.pack("<i", ln)
    return bytes(out)


@dataclass
class WriteResult:
    path: str
    n_records: int
    blocks: list[BlockMetadata]
    record_positions: list[Pos]
    header_end: Pos


def write_bam(
    path: str,
    names: list[str],
    lengths: list[int],
    records: list[BamRecord],
    block_payload: int = DEFAULT_BLOCK_PAYLOAD,
    sidecars: bool = True,
    level: int = 6,
    bai: bool | None = None,
) -> WriteResult:
    """Serialize header+records, slice into BGZF blocks of
    ``block_payload`` uncompressed bytes, write sidecars.  ``bai``
    controls the spec §5.2 index independently of the test-only
    sidecars (default: follow ``sidecars``) so the distributed Python
    writer can emit just the index, mirroring the JVM sink's
    ``bai=true``."""
    header = encode_header(names, lengths)
    stream = bytearray(header)
    rec_uoffsets: list[int] = []
    for r in records:
        rec_uoffsets.append(len(stream))
        stream += encode_record(r)

    blocks: list[BlockMetadata] = []
    block_ustarts: list[int] = []
    cpos = 0
    out = bytearray()
    for ustart in range(0, len(stream), block_payload):
        chunk = bytes(stream[ustart : ustart + block_payload])
        blk = compress_block(chunk, level=level)
        blocks.append(BlockMetadata(cpos, len(blk), len(chunk)))
        block_ustarts.append(ustart)
        out += blk
        cpos += len(blk)
    out += EOF_BLOCK
    with open(path, "wb") as f:
        f.write(out)

    def to_pos(uoff: int) -> Pos:
        import bisect

        # End-of-stream landing on an exact block boundary: report the
        # next-block form (EOF-marker coffset, offset 0) — the same
        # representation StreamingBamEncoder and the JVM sink emit, and
        # what bisect already yields for *interior* boundaries where a
        # following data block exists.  Keeps BAI voffset spans identical
        # across all three writers for that corner.
        if uoff >= len(stream) and uoff % block_payload == 0 and blocks:
            return Pos(cpos, 0)
        i = bisect.bisect_right(block_ustarts, uoff) - 1
        return Pos(blocks[i].start, uoff - block_ustarts[i])

    positions = [to_pos(u) for u in rec_uoffsets]
    header_end = to_pos(len(header))

    if bai if bai is not None else sidecars:
        # spec-standard BAI (writer owns exact positions → exact index)
        from spark_bam_spark.bam.bai import build_bai, write_bai

        rec_ends = rec_uoffsets[1:] + [len(stream)]
        bai_rows = [
            (r.ref_idx, r.pos, max(r.end_pos, r.pos + 1) if r.pos >= 0 else -1,
             r.flag, to_pos(u0), to_pos(u1))
            for r, u0, u1 in zip(records, rec_uoffsets, rec_ends)
        ]
        write_bai(path + ".bai", build_bai(len(names), bai_rows))
    if sidecars:
        with open(path + ".blocks", "w") as f:
            for b in blocks:
                f.write(f"{b.start},{b.compressed_size},{b.uncompressed_size}\n")
        with open(path + ".records", "w") as f:
            for p in positions:
                f.write(f"{p.block_pos},{p.offset}\n")
    return WriteResult(path, len(records), blocks, positions, header_end)


class StreamingBamEncoder:
    """O(block_payload) BAM part-file encoder for the distributed Python
    writer: records stream through a fixed staging buffer that flushes a
    deflated BGZF block whenever it fills — the task never holds the
    partition's record list or its serialized stream (the memory shape
    the JVM sink has, BamWriteSupport.java).  Byte-identical to
    :func:`write_bam` for the same records and options: the global
    uncompressed stream is sliced at the same ``block_payload``
    boundaries with the same deflate level.

    With ``bai=True`` the encoder also feeds a :class:`BaiAccumulator`
    with each record's exact [start, end) virtual offsets
    ((compressed-bytes-flushed << 16) | staging fill) as a running side
    effect — O(touched bins) memory, no second pass."""

    def __init__(
        self,
        f,
        names: list[str],
        lengths: list[int],
        block_payload: int = DEFAULT_BLOCK_PAYLOAD,
        level: int = 6,
        bai: bool = False,
    ) -> None:
        from spark_bam_spark.bam.bai import BaiAccumulator

        if block_payload < 1:
            raise ValueError("block_payload must be >= 1 (0 would never flush)")
        self.f = f
        self.bp = block_payload
        self.level = level
        self.staging = bytearray(block_payload)
        self.fill = 0
        self.flushed = 0  # compressed bytes written so far
        self.n_records = 0
        self.bai = BaiAccumulator(len(names)) if bai else None
        self._append(encode_header(names, lengths))

    def _flush_block(self) -> None:
        if self.fill == 0:
            return
        blk = compress_block(bytes(self.staging[: self.fill]), level=self.level)
        self.f.write(blk)
        self.flushed += len(blk)
        self.fill = 0

    def _append(self, data: bytes) -> None:
        mv = memoryview(data)
        while mv:
            take = min(self.bp - self.fill, len(mv))
            self.staging[self.fill : self.fill + take] = mv[:take]
            self.fill += take
            mv = mv[take:]
            if self.fill == self.bp:
                self._flush_block()

    def add(self, rec: BamRecord) -> None:
        v0 = (self.flushed << 16) | self.fill
        self._append(encode_record(rec))
        self.n_records += 1
        if self.bai is not None:
            v1 = (self.flushed << 16) | self.fill
            end = max(rec.end_pos, rec.pos + 1) if rec.pos >= 0 else -1
            self.bai.add(rec.ref_idx, rec.pos, end, rec.flag, v0, v1)

    def finish(self) -> None:
        """Flush the trailing partial block and the spec EOF marker."""
        self._flush_block()
        self.f.write(EOF_BLOCK)


# ---------------------------------------------------------------------------
# Deterministic fixture generation (the analogue of test-bams/)
# ---------------------------------------------------------------------------

CONTIG_NAMES = ["1", "2", "3"]
CONTIG_LENGTHS = [249_250_621, 243_199_373, 198_022_430]


def synth_records(n: int, seed: int = 42, sorted_by_pos: bool = True) -> list[BamRecord]:
    rng = random.Random(seed)
    recs: list[BamRecord] = []
    for i in range(n):
        unplaced = rng.random() < 0.02
        seq_len = rng.randint(36, 151)
        seq = "".join(rng.choice("ACGTN") for _ in range(seq_len))
        qual = bytes(rng.randint(2, 40) for _ in range(seq_len))
        if unplaced:
            rec = BamRecord(
                qname=f"read{i:07d}",
                flag=0x4 | 0x1,
                ref_idx=-1,
                pos=-1,
                mapq=0,
                cigar=[],
                mate_ref_idx=-1,
                mate_pos=-1,
                tlen=0,
                seq=seq,
                qual=qual,
                tags={"RG": "rg0"},
            )
        else:
            ref_idx = rng.randint(0, len(CONTIG_NAMES) - 1)
            pos = rng.randint(0, 2_000_000)
            soft = rng.random() < 0.2
            cigar = [(4, 5), (0, seq_len - 5)] if soft else [(0, seq_len)]
            rec = BamRecord(
                qname=f"read{i:07d}",
                flag=0x1 | (0x10 if rng.random() < 0.5 else 0),
                ref_idx=ref_idx,
                pos=pos,
                mapq=rng.randint(0, 60),
                cigar=cigar,
                mate_ref_idx=ref_idx,
                mate_pos=min(pos + rng.randint(100, 500), CONTIG_LENGTHS[ref_idx] - 1),
                tlen=rng.randint(-600, 600),
                seq=seq,
                qual=qual,
                tags={"RG": "rg0", "NM": str(rng.randint(0, 5))},
            )
        recs.append(rec)
    if sorted_by_pos:
        recs.sort(key=lambda r: (r.ref_idx if r.ref_idx >= 0 else 1 << 30, r.pos))
    return recs


def synth_flagstat_records(n: int = 1200, seed: int = 7) -> list[BamRecord]:
    """Deterministic record set exercising EVERY flag bit samtools
    flagstat counts — unlike synth_records (whose flags are only
    0x1/0x4/0x10, leaving most flagstat counters trivially zero):
    proper pairs (0x2), mate-unmapped singletons (0x8), read1/read2
    (0x40/0x80), secondary (0x100), duplicates (0x400), supplementary
    (0x800), mates on a different contig (split by mapq>=5), placed-
    but-unmapped reads, and coordinate-less reads.  Secondary and
    supplementary records CARRY pair bits on purpose: samtools excludes
    them from every paired counter (primary-only semantics — the
    contract that caught a real defect in the r11 self-review), so the
    exclusion is observable in the aggregate, not just in unit tests."""
    rng = random.Random(seed)
    recs: list[BamRecord] = []
    for i in range(n):
        qname = f"fs{i:06d}"
        seq = "".join(rng.choice("ACGT") for _ in range(20))
        qual = bytes(rng.randint(10, 40) for _ in range(20))
        kind = rng.random()
        if kind < 0.04:  # coordinate-less (ref -1): '*' no-coor class
            recs.append(BamRecord(
                qname=qname, flag=0x1 | 0x4 | (0x40 if i % 2 == 0 else 0x80),
                ref_idx=-1, pos=-1, mapq=0, cigar=[], mate_ref_idx=-1,
                mate_pos=-1, tlen=0, seq=seq, qual=qual))
            continue
        ref = rng.randint(0, len(CONTIG_NAMES) - 1)
        pos = rng.randint(0, 2_000_000)
        mapq = rng.randint(0, 60)
        flag = 0x1 | (0x40 if i % 2 == 0 else 0x80)
        mate_ref = ref
        if kind < 0.08:  # placed but unmapped (flag-only mapped counter)
            flag |= 0x4
        else:
            if rng.random() < 0.12:
                flag |= 0x100  # secondary (pair bits stay set)
            elif rng.random() < 0.06:
                flag |= 0x800  # supplementary
            if rng.random() < 0.1:
                flag |= 0x400  # PCR/optical duplicate
            r2 = rng.random()
            if r2 < 0.08:
                flag |= 0x8  # mate unmapped -> singleton when primary
            elif r2 < 0.30:
                mate_ref = (ref + 1) % len(CONTIG_NAMES)  # cross-contig mate
            else:
                flag |= 0x2  # proper pair
            if rng.random() < 0.5:
                flag |= 0x10
        recs.append(BamRecord(
            qname=qname, flag=flag, ref_idx=ref, pos=pos, mapq=mapq,
            cigar=[(0, 20)], mate_ref_idx=mate_ref,
            mate_pos=pos if flag & 0x8 else rng.randint(0, 2_000_000),
            tlen=rng.randint(-600, 600), seq=seq, qual=qual))
    recs.sort(key=lambda r: (r.ref_idx if r.ref_idx >= 0 else 1 << 30, r.pos))
    return recs


def make_flagstat_fixture(path: str, n: int = 1200, block_payload: int = 4096,
                          seed: int = 7) -> WriteResult:
    """Write the flag-rich flagstat fixture (see synth_flagstat_records)."""
    recs = synth_flagstat_records(n, seed=seed)
    return write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=block_payload)


def make_fixture(path: str, n: int = 2500, block_payload: int = 4096, seed: int = 42) -> WriteResult:
    """Write a deterministic block-unaligned BAM (≈2.bam: 2500 reads,
    LoadBAMTest.scala:23-27) with full sidecar ground truth."""
    recs = synth_records(n, seed=seed)
    return write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=block_payload)
