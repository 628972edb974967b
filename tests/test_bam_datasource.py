"""End-to-end tests of the BAM scan and sink (bamjvm.BamDataSource,
reached through ``bam.reader``) — the reference's loader invariants
(LoadBAMTest.scala:23-122): total count, split-size invariance, first
read names, interval predicate pushdown, write round-trip — and the
indexed scan's range packer (BamDataSource.packRanges)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam, read_blocks, write_bam_df
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, make_fixture

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)

N = 2500


@pytest.fixture(scope="module")
def bam(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bamds") / "2500.bam")
    return make_fixture(path, n=N, block_payload=4096)


@pytest.fixture(scope="module")
def spark_bam(spark):
    jvmreader.ensure_session(spark)
    return spark


def test_count_and_schema(spark_bam, bam):
    df = read_bam(spark_bam, bam.path, split_size=65536)
    assert df.count() == N
    assert df.schema["pos"].dataType.simpleString() == "bigint"
    assert df.schema["tags"].dataType.simpleString() == "map<string,string>"


def test_positions_match_ground_truth(spark_bam, bam):
    df = read_bam(spark_bam, bam.path, split_size=65536)
    got = sorted((r.block_pos, r.offset) for r in df.select("block_pos", "offset").collect())
    expected = sorted((p.block_pos, p.offset) for p in bam.record_positions)
    assert got == expected


@pytest.mark.parametrize("split_size", [16384, 65536, 1 << 20])
def test_split_size_invariance(spark_bam, bam, split_size):
    """The spark-bam property: any split size yields the same records
    exactly once (docs/motivation.md:36-52)."""
    df = read_bam(spark_bam, bam.path, split_size=split_size)
    rows = df.select("qname").collect()
    assert len(rows) == N
    assert len({r.qname for r in rows}) == N


def test_multiple_partitions_actually_planned(spark_bam, bam):
    df = read_bam(spark_bam, bam.path, split_size=16384)
    assert df.rdd.getNumPartitions() > 4


def test_interval_filter_with_pushdown_matches_full_scan(spark_bam, bam):
    full = read_bam(spark_bam, bam.path, split_size=65536)
    expected = full.filter((F.col("rname") == "1") & (F.col("pos") >= 13000) & (F.col("pos") < 500000)).count()
    pruned = read_bam(spark_bam, bam.path, split_size=16384).filter(
        (F.col("rname") == "1") & (F.col("pos") >= 13000) & (F.col("pos") < 500000)
    )
    assert pruned.count() == expected
    assert expected > 0


def test_blocks_source_matches_sidecar(spark_bam, bam):
    df = read_blocks(spark_bam, bam.path, split_size=16384)
    got = sorted((r.start, r.compressed_size, r.uncompressed_size) for r in df.collect())
    expected = sorted((b.start, b.compressed_size, b.uncompressed_size) for b in bam.blocks)
    assert got == expected


def test_write_roundtrip(spark_bam, bam, tmp_path):
    df = read_bam(spark_bam, bam.path, split_size=1 << 20)
    out = str(tmp_path / "rewritten")
    contigs = ",".join(f"{n}:{ln}" for n, ln in zip(CONTIG_NAMES, CONTIG_LENGTHS))
    write_bam_df(df.repartition(3), out, contigs=contigs, block_payload=4096)
    back = read_bam(spark_bam, out, split_size=16384)
    assert back.count() == N
    a = sorted(r.qname for r in df.select("qname").collect())
    b = sorted(r.qname for r in back.select("qname").collect())
    assert a == b


def test_column_pruning_option(spark_bam, bam):
    full = read_bam(spark_bam, bam.path)
    pruned = read_bam(spark_bam, bam.path, columns="rname,pos,seq_len,block_pos,offset")
    assert pruned.columns == ["rname", "pos", "seq_len", "block_pos", "offset"]
    key = lambda r: (r[0] or "", r[1], r[3], r[4])
    got = sorted((tuple(r) for r in pruned.collect()), key=key)
    want = sorted(
        (tuple(r) for r in full.select("rname", "pos", "seq_len", "block_pos", "offset").collect()),
        key=key,
    )
    assert got == want


def test_column_pruning_rejects_unknown(spark_bam, bam):
    with pytest.raises(Exception, match="nope"):
        read_bam(spark_bam, bam.path, columns="nope").collect()


def test_byte_ranges_option(spark_bam, bam):
    blocks = read_blocks(spark_bam, bam.path)
    all_starts = sorted(r["start"] for r in blocks.collect())
    assert len(all_starts) > 4
    cut = all_starts[len(all_starts) // 2]
    ranged = read_blocks(spark_bam, bam.path, ranges=f"0-{cut}")
    got = sorted(r["start"] for r in ranged.collect())
    assert got == [s for s in all_starts if s < cut]
    # reads source: ranges prune splits; full-file range == full scan
    full = read_bam(spark_bam, bam.path).count()
    assert read_bam(spark_bam, bam.path, ranges="0-").count() == full


def test_multi_file_directory_scan(spark_bam, tmp_path):
    from spark_bam_spark.bam.writer import make_fixture as mk

    d = tmp_path / "many"
    d.mkdir()
    a = mk(str(d / "a.bam"), n=150, block_payload=2048, seed=1)
    b = mk(str(d / "b.bam"), n=250, block_payload=2048, seed=2)
    df = read_bam(spark_bam, str(d))
    assert df.count() == 400
    # qnames are read{i} per file, so the two files overlap on the first 150
    assert df.select("qname").distinct().count() == 250


def test_permissive_mode_salvages_corrupt_file(spark_bam, bam, tmp_path):
    import shutil

    corrupt = str(tmp_path / "corrupt.bam")
    shutil.copy(bam.path, corrupt)
    # trash the payload of a middle block (header left intact so the
    # block chain still parses; inflate will fail)
    blocks = sorted(b.start for b in bam.blocks)
    victim = blocks[len(blocks) // 2]
    size = bam.blocks[0].compressed_size
    with open(corrupt, "r+b") as f:
        f.seek(victim + 20)
        f.write(b"\xde\xad\xbe\xef" * 8)

    full = read_bam(spark_bam, bam.path, split_size=4096).count()
    got = read_bam(spark_bam, corrupt, split_size=4096, mode="permissive").collect()
    assert 0 < len(got) < full
    # salvaged records are real records (names match the fixture pattern)
    assert all(r["qname"].startswith("read") for r in got)

    with pytest.raises(Exception):
        read_bam(spark_bam, corrupt, split_size=4096).count()


@pytest.fixture(scope="module")
def pack_ranges(spark_bam):
    """``pack_ranges(ranges, split_size, ratio)`` → the groups that
    BamDataSource.packRanges, the indexed scan's packer, makes of
    ``ranges``."""
    from spark_bam_spark.queries.bam_qa import _jvm_pack_ranges

    return lambda ranges, split_size, ratio: _jvm_pack_ranges(spark_bam, ranges, split_size, ratio)


def test_pack_ranges_merge_and_cut_branches(pack_ranges):
    """O4 cappedCostGroups unit pins for the merge and cut branches
    (also driver-hashed end-to-end by bam_pack_ranges, whose fixture
    forces 13 merges and 3 cuts): overlapping/adjacent candidate ranges
    merge before packing, and a range larger than the cap is cut into
    cap-sized pieces that each ride alone."""
    # cap = 300/3.0 = 100 compressed bytes
    # overlap (0,50)+(40,90) and adjacency (90,120) merge into (0,120),
    # which exceeds the cap and is cut at it; the 20-byte remainder then
    # packs with (200,260) under the cap, and (300,340) overflows out
    got = pack_ranges([(0, 50), (40, 90), (90, 120), (200, 260), (300, 340)], 300, 3.0)
    assert got == [[(0, 100)], [(100, 120), (200, 260)], [(300, 340)]]
    # an oversize range mid-stream flushes the open group first
    got = pack_ranges([(0, 60), (100, 350), (400, 430)], 300, 3.0)
    assert got == [[(0, 60)], [(100, 200)], [(200, 300)], [(300, 350), (400, 430)]]


def test_pack_ranges_randomized_invariants(pack_ranges):
    """O4 property sweep: on arbitrary inputs — overlapping, adjacent,
    empty, oversize, unsorted — packRanges must preserve BYTE COVERAGE
    exactly (the scan reads every candidate byte once and none twice),
    emit disjoint strictly-increasing ranges, keep every group's
    compressed span within the cap, and stay greedy-tight (a group is
    only closed when its successor's first range genuinely overflows the
    cap; solo cut pieces exempt)."""
    rng = random.Random(0xC0FFEE)
    for trial in range(300):
        n = rng.randint(0, 40)
        ranges = []
        for _ in range(n):
            lo = rng.randint(0, 5_000)
            span = rng.choice([0, rng.randint(1, 120), rng.randint(1, 2_500)])
            ranges.append((lo, lo + span))
        rng.shuffle(ranges)
        split_size, ratio = rng.randint(3, 900), rng.choice([1.0, 3.0, 7.5])
        groups = pack_ranges(ranges, split_size, ratio)
        cap = max(1, int(split_size / ratio))
        flat = [r for g in groups for r in g]

        # coverage: exact byte-set equality with an independent interval
        # union (set-based, order-free — nothing shared with the greedy)
        want = set()
        for lo, hi in ranges:
            want.update(range(lo, hi))
        got = set()
        for lo, hi in flat:
            assert hi > lo, (trial, flat)
            piece = set(range(lo, hi))
            assert not (got & piece), (trial, "double-read bytes", lo, hi)
            got |= piece
        assert got == want, (trial, "coverage broken")

        # disjoint + globally sorted (file-order scan locality)
        for (alo, ahi), (blo, bhi) in zip(flat, flat[1:]):
            assert ahi <= blo, (trial, flat)

        # cap: no group's compressed span exceeds the cap
        for g in groups:
            assert sum(hi - lo for lo, hi in g) <= cap, (trial, g, cap)

        # greedy tightness: a non-final group followed by a non-solo-cut
        # group must have been closed out of necessity
        for ga, gb in zip(groups, groups[1:]):
            first = gb[0]
            if len(gb) == 1 and first[1] - first[0] == cap:
                continue  # solo cut piece rides alone by design
            if len(ga) == 1 and ga[0][1] - ga[0][0] == cap:
                continue  # predecessor was itself a solo cut piece
            assert sum(hi - lo for lo, hi in ga) + (first[1] - first[0]) > cap, (
                trial, ga, gb, cap,
            )


def test_cost_packed_indexed_partitions_balanced(spark_bam, tmp_path):
    """O4 cappedCostGroups: on a SKEWED interval query (all matching data
    clustered in one region of the file), packed partitions must track
    data volume — no partition's candidate byte span may exceed the cap,
    the plan must not degenerate to one fat partition plus empties, and
    the pruned region must stay unplanned."""
    from spark_bam_spark.bam.records import BamRecord
    from spark_bam_spark.bam.writer import write_bam
    from tests.test_split_planner import scan_splits

    # skew: 5000 reads on contig 1 in [0, 50k) (dense), 200 reads on
    # contig 2 spread wide — a rname='1' query hits a dense cluster
    recs = []
    for i in range(5000):
        recs.append(BamRecord(
            qname=f"d{i:05d}", flag=0x1, ref_idx=0, pos=10 * i, mapq=30,
            cigar=[(0, 50)], mate_ref_idx=0, mate_pos=10 * i + 60, tlen=100,
            seq="A" * 50, qual=bytes([30] * 50)))
    for i in range(200):
        recs.append(BamRecord(
            qname=f"s{i:05d}", flag=0x1, ref_idx=1, pos=1_000_000 * i, mapq=30,
            cigar=[(0, 50)], mate_ref_idx=1, mate_pos=1_000_000 * i + 60, tlen=100,
            seq="C" * 50, qual=bytes([30] * 50)))
    recs.sort(key=lambda r: (r.ref_idx, r.pos))
    path = str(tmp_path / "skew.bam")
    res = write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=4096)

    split_size = 32768
    df = read_bam(spark_bam, path, split_size=split_size).filter("rname = '1'")
    spans = [(lo, hi) for _, lo, hi in scan_splits(df)]
    cap = split_size / 3.0  # compressed cap = split_size / est ratio
    # packed, not fixed-stride: each span is cut at the cap (+ the block
    # its last chunk ends in), far under split_size
    max_block = max(b.compressed_size for b in res.blocks)
    assert max(hi - lo for lo, hi in spans) <= cap + max_block < split_size, (spans, cap)
    assert len(spans) >= 3, f"dense region should spread over partitions: {spans}"
    # indexed: the contig-2 tail is never planned
    first_contig2 = min(p.block_pos for p, r in zip(res.record_positions, recs) if r.ref_idx == 1)
    assert max(hi for _, hi in spans) <= first_contig2 + 65536, (spans, first_contig2)
    # and correctness: the packed scan returns exactly the dense reads
    assert df.count() == 5000
