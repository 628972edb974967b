"""Generate the committed ground-truth parquet sidecars for the BAM/SAM
fixture queries (tests/fixtures/qa2500_truth.parquet, qa2500_blocks.parquet).

The BAM queries previously got rows-only driver checks (DuckDB cannot read
BAM) — but the fixture generator knows every record exactly, so dumping the
expected scan output as parquet lets the oracle SQL hash-verify the entire
decode path: generator → [BAM writer → BGZF → DataSource decode] on the
Spark side vs this direct dump on the DuckDB side.  Rendering here
(cigar string, end_pos, rname) is implemented independently of
the bamjvm decoder on purpose — same differential-oracle spirit as the
reference's seqdoop cross-checks (SURVEY §5).

Deterministic: same seed/params as queries/bam_qa.py's fixture
(n=2500, block_payload=4096, seed=42).  Rerun only if the fixture recipe
changes; the output is committed.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spark_bam_spark.bam.writer import (  # noqa: E402
    CONTIG_NAMES,
    make_fixture,
    synth_records,
)

_CIGAR_CHARS = "MIDNSHP=X"
_REF_CONSUMING = {0, 2, 3, 7, 8}  # M D N = X


def cigar_str(cigar: list[tuple[int, int]]) -> str:
    if not cigar:
        return "*"
    return "".join(f"{ln}{_CIGAR_CHARS[op]}" for op, ln in cigar)


def end_pos(pos: int, cigar: list[tuple[int, int]]) -> int:
    if pos < 0:
        return -1
    return pos + sum(ln for op, ln in cigar if op in _REF_CONSUMING)


def main() -> None:
    out_dir = os.path.join(REPO, "tests", "fixtures")
    os.makedirs(out_dir, exist_ok=True)

    with tempfile.TemporaryDirectory() as tmp:
        res = make_fixture(os.path.join(tmp, "qa2500.bam"), n=2500, block_payload=4096)
    recs = synth_records(2500)
    assert len(recs) == len(res.record_positions) == res.n_records

    cols = {
        "qname": [r.qname for r in recs],
        "flag": [r.flag for r in recs],
        "rname": [None if r.ref_idx < 0 else CONTIG_NAMES[r.ref_idx] for r in recs],
        "pos": [r.pos for r in recs],
        "end_pos": [end_pos(r.pos, r.cigar) for r in recs],
        "mapq": [r.mapq for r in recs],
        "cigar": [cigar_str(r.cigar) for r in recs],
        "tlen": [r.tlen for r in recs],
        "block_pos": [p.block_pos for p in res.record_positions],
        "offset": [p.offset for p in res.record_positions],
    }
    schema = pa.schema(
        [
            ("qname", pa.string()),
            ("flag", pa.int32()),
            ("rname", pa.string()),
            ("pos", pa.int64()),
            ("end_pos", pa.int64()),
            ("mapq", pa.int32()),
            ("cigar", pa.string()),
            ("tlen", pa.int32()),
            ("block_pos", pa.int64()),
            ("offset", pa.int32()),
        ]
    )
    truth = pa.table(cols, schema=schema)
    pq.write_table(truth, os.path.join(out_dir, "qa2500_truth.parquet"))

    blocks = pa.table(
        {
            "start": [b.start for b in res.blocks],
            "compressed_size": [b.compressed_size for b in res.blocks],
            "uncompressed_size": [b.uncompressed_size for b in res.blocks],
        },
        schema=pa.schema(
            [("start", pa.int64()), ("compressed_size", pa.int64()), ("uncompressed_size", pa.int64())]
        ),
    )
    pq.write_table(blocks, os.path.join(out_dir, "qa2500_blocks.parquet"))

    # scan-aggregate truths for the throughput fixtures: the 50k fixture is
    # synth_records(50000, seed=42); the 1M fixture tiles those same
    # records 20x, so every aggregate scales linearly.
    recs50k = synth_records(50000)
    bases = sum(len(r.seq) for r in recs50k)
    quals = sum(len(r.qual) for r in recs50k)
    contigs = len({r.ref_idx for r in recs50k if r.ref_idx >= 0})
    aggs = pa.table(
        {
            "fixture": ["50k", "1m"],
            "n_reads": [50_000, 50_000 * 20],
            "total_bases": [bases, bases * 20],
            "total_quals": [quals, quals * 20],
            "n_contigs": [contigs, contigs],
        },
        schema=pa.schema(
            [
                ("fixture", pa.string()),
                ("n_reads", pa.int64()),
                ("total_bases", pa.int64()),
                ("total_quals", pa.int64()),
                ("n_contigs", pa.int64()),
            ]
        ),
    )
    pq.write_table(aggs, os.path.join(out_dir, "qa_scan_aggs.parquet"))

    # flagstat fixture truth: the flag-rich record set straight from the
    # generator (synth_flagstat_records — decoder-independent), so the
    # oracle can DERIVE every samtools-flagstat counter in SQL while the
    # Spark side computes it through writer -> BGZF -> scan -> agg.
    from spark_bam_spark.bam.writer import synth_flagstat_records

    fs_recs = synth_flagstat_records()
    fs_truth = pa.table(
        {
            "qname": [r.qname for r in fs_recs],
            "flag": [r.flag for r in fs_recs],
            "ref_idx": [r.ref_idx for r in fs_recs],
            "mate_ref_idx": [r.mate_ref_idx for r in fs_recs],
            "mapq": [r.mapq for r in fs_recs],
        },
        schema=pa.schema(
            [
                ("qname", pa.string()),
                ("flag", pa.int32()),
                ("ref_idx", pa.int32()),
                ("mate_ref_idx", pa.int32()),
                ("mapq", pa.int32()),
            ]
        ),
    )
    pq.write_table(fs_truth, os.path.join(out_dir, "flagstat1k_truth.parquet"))
    print(
        f"wrote {truth.num_rows} truth rows, {blocks.num_rows} block rows, "
        f"{aggs.num_rows} scan-agg rows, {fs_truth.num_rows} flagstat rows "
        f"to {out_dir}"
    )


if __name__ == "__main__":
    main()
