"""The pure-Python reference side of the differential BAM tests.

The engine's only Spark paths are the bamjvm reader and writer.  These
helpers give the tests an independent answer for the same file: the
reader side walks every BGZF block with ``bgzf.block_stream``, parses the
header with ``parse_header`` and decodes each record with
``records.decode_record``, then renders read-schema rows; the writer side
encodes ``BamRecord``s with ``writer.StreamingBamEncoder``.  No Spark is
involved, so an error shared by the JVM reader and writer cannot hide.
"""

from __future__ import annotations

import bisect
import os

from pyspark.sql import Row

from spark_bam_spark.bam import bgzf
from spark_bam_spark.bam.bgzf import Pos
from spark_bam_spark.bam.header import parse_header
from spark_bam_spark.bam.reader import READS_FIELDS
from spark_bam_spark.bam.records import CIGAR_OPS, BamRecord, decode_record
from spark_bam_spark.bam.writer import StreamingBamEncoder

COLUMNS = [n for n, _ in READS_FIELDS]


def bam_files(path: str) -> list[str]:
    """The .bam files a scan of ``path`` reads, in the scan's name order."""
    if os.path.isdir(path):
        return sorted(os.path.join(path, n) for n in os.listdir(path) if n.endswith(".bam"))
    return [path]


def decode_file(path: str) -> tuple[tuple[str, ...], list[tuple[Pos, BamRecord]]]:
    """(contig names, every record with its virtual position) of one BAM."""
    with open(path, "rb") as f:
        hdr = parse_header(f)
        buf = bytearray()
        starts: list[int] = []
        ustarts: list[int] = []
        for meta, data in bgzf.block_stream(f, 0):
            starts.append(meta.start)
            ustarts.append(len(buf))
            buf += data
    out = []
    u = ustarts[starts.index(hdr.end.block_pos)] + hdr.end.offset
    while u < len(buf):
        rec, n = decode_record(buf, u)
        i = bisect.bisect_right(ustarts, u) - 1
        out.append((Pos(starts[i], u - ustarts[i]), rec))
        u += n
    return hdr.names, out


def record_row(rec: BamRecord, pos: Pos | None, names) -> dict:
    """One read-schema row, as the bamjvm scan renders it."""
    return {
        "qname": rec.qname,
        "flag": rec.flag,
        "ref_idx": rec.ref_idx,
        "rname": names[rec.ref_idx] if 0 <= rec.ref_idx < len(names) else None,
        "pos": rec.pos,
        "end_pos": rec.end_pos,
        "mapq": rec.mapq,
        "cigar": rec.cigar_str,
        "n_cigar_ops": rec.n_cigar_ops,
        "mate_ref_idx": rec.mate_ref_idx,
        "mate_pos": rec.mate_pos,
        "tlen": rec.tlen,
        "seq": rec.seq,
        "seq_len": rec.seq_len,
        "qual": bytes((q + 33) & 0xFF for q in rec.qual).decode("latin1"),
        "tags": rec.tags,
        "block_pos": None if pos is None else pos.block_pos,
        "offset": None if pos is None else pos.offset,
    }


def _canon(d: dict, columns) -> tuple:
    return tuple(
        tuple(sorted(d[c].items())) if c == "tags" and d[c] is not None else d[c]
        for c in columns
    )


def oracle_rows(path: str, columns=None) -> list[tuple]:
    """Read-schema rows of a BAM file or directory, decoded in Python and
    sorted (``tags`` as sorted (key, value) pairs)."""
    columns = columns or COLUMNS
    rows = []
    for p in bam_files(path):
        names, recs = decode_file(p)
        rows += [_canon(record_row(rec, pos, names), columns) for pos, rec in recs]
    return sorted(rows, key=repr)


def scan_rows(df, columns=None) -> list[tuple]:
    """The same rendering of a scanned DataFrame's rows."""
    columns = columns or [c for c in COLUMNS if c in df.columns]
    return sorted((_canon(r.asDict(), columns) for r in df.select(*columns).collect()), key=repr)


def to_row(r: BamRecord) -> Row:
    """A BamRecord as a reads-DataFrame row the JVM writer encodes back
    to the same record bytes."""
    return Row(
        qname=r.qname, flag=r.flag, ref_idx=r.ref_idx, pos=r.pos,
        mapq=r.mapq,
        cigar="".join(f"{ln}{CIGAR_OPS[op]}" for op, ln in r.cigar) or "*",
        mate_ref_idx=r.mate_ref_idx, mate_pos=r.mate_pos, tlen=r.tlen,
        seq=r.seq, qual="".join(chr(min(q + 33, 255)) for q in r.qual),
        tags=dict(r.tags),
    )


def encode_part(path: str, records, names, lengths, block_payload: int, level: int = 6) -> str:
    """Write ``records`` as one BAM the way a one-partition JVM write
    frames them: header, records, exact ``block_payload`` slices, EOF."""
    with open(path, "wb") as f:
        enc = StreamingBamEncoder(f, list(names), list(lengths), block_payload=block_payload,
                                  level=level)
        for r in records:
            enc.add(r)
        enc.finish()
    return path
