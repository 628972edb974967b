"""BAI index (S11/S8): write/parse round-trip, query planning vs brute
force, the streaming encoder's incremental index, and the scan's
pushdown equivalence with the spec index."""

import os

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam.bai import build_bai, parse_bai, query_chunks, reg2bin, reg2bins
from spark_bam_spark.bam.reader import read_bam
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, make_fixture

N = 600


@pytest.fixture(scope="module")
def bam(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bai") / "t.bam")
    return make_fixture(path, n=N, block_payload=2048)


def test_bai_written_and_roundtrips(bam):
    assert os.path.exists(bam.path + ".bai")
    idx = parse_bai(bam.path + ".bai")
    assert len(idx.bins) == 3  # three contigs
    total_chunks = sum(len(cs) for ref in idx.bins for cs in ref.values())
    assert 0 < total_chunks <= N


def test_reg2bin_in_reg2bins():
    for beg, end in [(0, 1), (13000, 14000), (1 << 20, (1 << 20) + 5000), (0, 1 << 28)]:
        assert reg2bin(beg, end) in reg2bins(beg, end)


def test_query_chunks_cover_all_matching_records(bam):
    idx = parse_bai(bam.path + ".bai")
    beg, end = 100_000, 500_000
    chunks = query_chunks(idx, 0, beg, end)
    # chunks must be sorted, non-overlapping
    for a, b in zip(chunks, chunks[1:]):
        assert a.end <= b.start
    # every record on contig 0 overlapping [beg,end) must fall inside a chunk
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, synth_records

    recs = synth_records(N)
    matched = [
        (r, p)
        for r, p in zip(recs, bam.record_positions)
        if r.ref_idx == 0 and r.pos < end and max(r.end_pos, r.pos + 1) > beg
    ]
    assert matched
    for r, p in matched:
        v = p.to_voffset()
        assert any(c.start <= v < c.end for c in chunks), f"record at {p} not covered"


def test_query_chunks_randomized_coverage(tmp_path):
    # Property sweep over randomized fixtures and intervals: planned
    # chunks are always sorted and disjoint, and every record whose
    # alignment overlaps the interval lies inside some chunk (the BAI
    # contract — false positives allowed, false negatives never).
    import random

    from spark_bam_spark.bam.writer import synth_records

    rng = random.Random(5821)
    for n, payload in ((150, 1024), (400, 4096), (700, 2048)):
        seed = rng.randrange(10_000)
        path = str(tmp_path / f"c{n}_{payload}.bam")
        res = make_fixture(path, n=n, block_payload=payload, seed=seed)
        idx = parse_bai(path + ".bai")
        recs = synth_records(n, seed=seed)
        for _ in range(20):
            ref = rng.randrange(3)
            beg = rng.randrange(0, 2_000_000)
            end = beg + rng.choice((1, 100, 16_384, 200_000, 2_000_000))
            chunks = query_chunks(idx, ref, beg, end)
            for a, b in zip(chunks, chunks[1:]):
                assert a.end <= b.start, (n, seed, ref, beg, end)
            for r, p in zip(recs, res.record_positions):
                if r.ref_idx == ref and r.pos < end and max(r.end_pos, r.pos + 1) > beg:
                    v = p.to_voffset()
                    assert any(
                        c.start <= v < c.end for c in chunks
                    ), (n, seed, ref, beg, end, r.qname)


def test_bai_pushdown_matches_full_scan(spark, bam):
    full = (
        read_bam(spark, bam.path, split_size=4096)
        .filter((F.col("rname") == "1") & (F.col("pos") >= 100_000) & (F.col("pos") <= 500_000))
    )
    want = sorted((r["qname"], r["pos"]) for r in full.select("qname", "pos").collect())
    pruned = (
        read_bam(spark, bam.path, split_size=4096)
        .filter((F.col("rname") == "1") & (F.col("pos") >= 100_000) & (F.col("pos") <= 500_000))
    )
    got = sorted((r["qname"], r["pos"]) for r in pruned.select("qname", "pos").collect())
    assert got == want and len(got) > 0


def test_bai_pushdown_prunes_partitions(spark, bam):
    from tests.test_split_planner import scan_splits

    unfiltered = read_bam(spark, bam.path, split_size=4096)
    filtered = unfiltered.filter((F.col("rname") == "1") & (F.col("pos").between(100_000, 120_000)))
    assert 0 < len(scan_splits(filtered)) < len(scan_splits(unfiltered))
    assert filtered.count() > 0


def test_stale_bai_after_rewrite_is_not_trusted(spark, tmp_path):
    """A .bam rewritten in place without reindexing keeps the older .bai
    of the file it replaced.  The scan must not prune with that index:
    region, contig and pos-only filters return the rewritten file's true
    counts."""
    from spark_bam_spark.bam.writer import synth_records, write_bam

    path = str(tmp_path / "r.bam")
    make_fixture(path, n=3000, block_payload=2048, seed=1)
    recs = synth_records(9000, seed=2)
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=2048,
              sidecars=False, bai=False)
    t = os.stat(path).st_mtime_ns - 60 * 10**9
    os.utime(path + ".bai", ns=(t, t))

    df = read_bam(spark, path, split_size=4096)
    one, two = CONTIG_NAMES.index("1"), CONTIG_NAMES.index("2")
    cases = [
        ((F.col("rname") == "1") & F.col("pos").between(100_000, 500_000),
         lambda r: r.ref_idx == one and 100_000 <= r.pos <= 500_000),
        (F.col("rname") == "2", lambda r: r.ref_idx == two),
        (F.col("pos").between(100_000, 200_000), lambda r: 100_000 <= r.pos <= 200_000),
    ]
    for cond, keep in cases:
        want = sum(1 for r in recs if keep(r))
        assert want > 0
        assert df.filter(cond).count() == want
    assert df.count() == 9000


def test_streaming_encoder_byte_identical_to_write_bam(tmp_path):
    """The streaming encoder (writer.StreamingBamEncoder, the writer-side
    oracle the JVM sink is compared with) passes records through an
    O(block_payload) staging buffer instead of buffering them all.  For
    the same records and options its output must equal write_bam's
    byte-for-byte — including at tiny block payloads where every record
    straddles block boundaries — and with bai=True the incremental
    BaiAccumulator must reproduce the one-shot build_bai index exactly."""
    import io

    from spark_bam_spark.bam.bai import write_bai
    from spark_bam_spark.bam.writer import StreamingBamEncoder, synth_records, write_bam

    recs = synth_records(400, seed=21)
    for bp in (96, 4096, 0xFF00):
        ref = str(tmp_path / f"ref_{bp}.bam")
        write_bam(ref, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=bp)
        buf = io.BytesIO()
        enc = StreamingBamEncoder(
            buf, CONTIG_NAMES, CONTIG_LENGTHS, block_payload=bp, bai=True
        )
        for r in recs:
            enc.add(r)
        enc.finish()
        with open(ref, "rb") as f:
            assert buf.getvalue() == f.read(), f"block_payload={bp}"
        bai_path = str(tmp_path / f"enc_{bp}.bai")
        write_bai(bai_path, enc.bai.index())
        with open(ref + ".bai", "rb") as f:
            ref_bai = f.read()
        with open(bai_path, "rb") as f:
            assert f.read() == ref_bai, f"bai block_payload={bp}"
