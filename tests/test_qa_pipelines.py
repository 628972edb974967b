"""QA-pipeline tests — differential testing against exact sidecar ground
truth, mirroring the reference's three-way comparison method
(docs/command-line.md:320-336): the engine checker must produce ZERO
false positives/negatives at every uncompressed position."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam
from spark_bam_spark.bam.writer import make_fixture
from spark_bam_spark.operators import qa

N = 400


@pytest.fixture(scope="module")
def bam(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qa") / "qa.bam")
    return make_fixture(path, n=N, block_payload=2048)


@pytest.fixture(scope="module")
def spark_bam(spark):
    jvmreader.ensure_session(spark)
    return spark


def test_check_bam_confusion_matrix_is_perfect(spark_bam, bam):
    """check-bam: every position called correctly → no FP/FN cells
    (CheckerApp.scala:70-139; spark-bam miscall rate 0, benchmarks.md:30)."""
    c = qa.calls(spark_bam, bam.path)
    cm = {(r.eager_call, r.oracle_call): r.n for r in qa.confusion_matrix(c).collect()}
    assert cm.get((True, False), 0) == 0, f"false positives: {cm}"
    assert cm.get((False, True), 0) == 0, f"false negatives: {cm}"
    assert cm[(True, True)] == N
    total = sum(cm.values())
    assert total == sum(b.uncompressed_size for b in bam.blocks)


def test_full_check_flag_distribution(spark_bam, bam):
    """full-check: every non-boundary position fails ≥1 check; histogram
    keyed by #failing flags (FullCheck.scala:147-188)."""
    hist = {r.num_flags: r.n_positions for r in qa.flags_histogram(spark_bam, bam.path, limit_blocks=3).collect()}
    assert hist, "no failing positions found"
    assert all(k >= 1 for k in hist)


def test_compute_splits_and_diff(spark_bam, bam):
    reads16 = read_bam(spark_bam, bam.path, split_size=16384)
    reads64 = read_bam(spark_bam, bam.path, split_size=65536)
    s16 = qa.splits_from_partitions(reads16)
    s64 = qa.splits_from_partitions(reads64)
    assert s16.count() > s64.count()
    diff = {r.side: r.n for r in qa.split_diff(s16, s64).collect()}
    # the coarser split starts are a subset of the finer ones
    assert diff.get("RightOnly", 0) == 0
    assert diff.get("Both", 0) == s64.count()


def test_check_blocks_first_reads(spark_bam, bam):
    df = qa.block_first_reads(spark_bam, bam.path)
    rows = df.collect()
    assert len(rows) == len(bam.blocks)
    # ground truth: first record offset per block from the sidecar
    expected = {}
    for p in bam.record_positions:
        expected.setdefault(p.block_pos, p.offset)
    for r in rows:
        assert r.first_read_offset == expected.get(r.start), f"block {r.start}"


def test_time_load_name_diff_empty(spark_bam, bam):
    reads_a = read_bam(spark_bam, bam.path, split_size=16384)
    reads_b = read_bam(spark_bam, bam.path, split_size=65536)
    a = qa.first_reads_per_partition(reads_a)
    b = qa.first_reads_per_partition(reads_b)
    only_a, only_b = qa.name_set_diff(reads_a.select("qname"), reads_b.select("qname"))
    assert (only_a, only_b) == (0, 0)
    assert a.count() > 0 and b.count() > 0


def test_count_reads_matches_ground_truth(spark_bam, bam):
    n = read_bam(spark_bam, bam.path, split_size=16384).count()
    assert n == N == len(bam.record_positions)


def test_observed_reads_metrics(spark_bam, bam):
    reads = read_bam(spark_bam, bam.path)
    observed, obs = qa.observed_reads(reads)
    assert observed.count() == N
    m = obs.get
    assert m["n_reads"] == N
    truth_unmapped = reads.filter(F.col("flag").bitwiseAND(4) != 0).count()
    assert m["n_unmapped"] == truth_unmapped == m["n_unplaced"]


def test_index_sidecar_sinks_roundtrip(spark_bam, bam, tmp_path):
    blocks_dir = str(tmp_path / "blocks_out")
    records_dir = str(tmp_path / "records_out")
    qa.index_blocks(spark_bam, bam.path, blocks_dir)
    reads = read_bam(spark_bam, bam.path)
    qa.index_records(reads, records_dir)

    got_blocks = sorted(
        tuple(r)
        for r in spark_bam.read.csv(
            blocks_dir, schema="start long, compressed_size int, uncompressed_size int"
        ).collect()
    )
    want_blocks = sorted((b.start, b.compressed_size, b.uncompressed_size) for b in bam.blocks)
    assert got_blocks == want_blocks

    got_recs = sorted(
        tuple(r)
        for r in spark_bam.read.csv(records_dir, schema="block_pos long, offset int").collect()
    )
    want_recs = sorted((p.block_pos, p.offset) for p in bam.record_positions)
    assert got_recs == want_recs


def test_find_starts_matches_sidecars(spark_bam, bam):
    # P8+P9: next-block / next-record sync from arbitrary byte offsets
    # must agree with the set-level answer derived from the sidecars —
    # probe exact block starts, one byte either side, and a coarse grid.
    block_starts = sorted(b.start for b in bam.blocks)
    last = block_starts[-1]
    probes = sorted(
        {0, 1, last}
        | set(range(0, last, 997))
        | {s for s in block_starts[:20]}
        | {s - 1 for s in block_starts[1:20]}
        | {s + 1 for s in block_starts[:20]}
    )
    got = {
        r.probe: (r.block_start, r.rec_block_pos, r.rec_offset)
        for r in qa.find_starts(spark_bam, bam.path, probes).collect()
    }
    recs = sorted((p.block_pos, p.offset) for p in bam.record_positions)
    for p in probes:
        want_block = min(s for s in block_starts if s >= p)
        want_rec = min(r for r in recs if r[0] >= want_block)
        assert got[p] == (want_block, want_rec[0], want_rec[1]), p


def test_find_starts_widens_past_multi_block_record(spark_bam, tmp_path):
    # A record spanning many tiny blocks leaves >4 consecutive blocks
    # with no record start; find_starts must widen its inflate window
    # (the fixed 4-block lookahead would return no row) and still agree
    # with the sidecar-derived answer.
    from spark_bam_spark.bam.records import BamRecord
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, write_bam

    def rec(i, seq_len):
        return BamRecord(
            qname=f"w{i:03d}", flag=0x1, ref_idx=0, pos=100 * i, mapq=30,
            cigar=[(0, seq_len)], mate_ref_idx=0, mate_pos=100 * i + 10,
            tlen=200, seq="A" * seq_len, qual=bytes([30] * seq_len))

    # 5000bp record ≈ 7.5 KiB serialized → spans ~15 blocks at 512B payload
    recs = [rec(0, 60), rec(1, 5000), rec(2, 60), rec(3, 60)]
    path = str(tmp_path / "wide.bam")
    res = write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=512)

    block_starts = sorted(b.start for b in res.blocks)
    rec_pos = sorted((p.block_pos, p.offset) for p in res.record_positions)
    # probe inside the long record's span: after its start block, before
    # the next record start — the first window there holds no record
    long_start_block = rec_pos[1][0]
    next_rec_block = rec_pos[2][0]
    assert sum(1 for s in block_starts if long_start_block < s < next_rec_block) > 4
    probes = [long_start_block + 1, rec_pos[1][0], 0]
    got = {
        r.probe: (r.block_start, r.rec_block_pos, r.rec_offset)
        for r in qa.find_starts(spark_bam, path, probes).collect()
    }
    for p in probes:
        want_block = min(s for s in block_starts if s >= p)
        want_rec = min(r for r in rec_pos if r[0] >= want_block)
        assert got[p] == (want_block, want_rec[0], want_rec[1]), p


def test_find_starts_horizon_extends_past_preensured_window(spark_bam, tmp_path):
    # r13 ADVICE #2 regression: when the FIRST record start at/after a
    # block lies beyond the caller's pre-ensured 4*MAX_BLOCK_SIZE
    # (256 KiB) uncompressed window, find_record_start must keep walking
    # — its candidate horizon is recomputed from the live window length,
    # so the checker's own ensure calls extend the walk to the true next
    # record instead of silently dropping the probe (the old fixed-limit
    # loop returned no row here while the sidecar oracle has one).
    from spark_bam_spark.bam.bgzf import MAX_BLOCK_SIZE
    from spark_bam_spark.bam.records import BamRecord
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, write_bam

    def rec(i, seq_len):
        return BamRecord(
            qname=f"h{i:03d}", flag=0x1, ref_idx=0, pos=100 * i, mapq=30,
            cigar=[(0, seq_len)], mate_ref_idx=0, mate_pos=100 * i + 10,
            tlen=200, seq="A" * seq_len, qual=bytes([30] * seq_len))

    # 250_000bp record ≈ 375 KiB serialized (seq nibbles + qual bytes) —
    # wider than the 256 KiB pre-ensured window by a full margin
    recs = [rec(0, 60), rec(1, 250_000), rec(2, 60), rec(3, 60)]
    path = str(tmp_path / "horizon.bam")
    res = write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=8192)

    block_starts = sorted(b.start for b in res.blocks)
    rec_pos = sorted((p.block_pos, p.offset) for p in res.record_positions)
    long_start_block = rec_pos[1][0]
    next_rec_block = rec_pos[2][0]
    # the gap really does exceed the pre-ensured window, uncompressed
    gap_blocks = [b for b in res.blocks if long_start_block < b.start <= next_rec_block]
    assert sum(b.uncompressed_size for b in gap_blocks) > 4 * MAX_BLOCK_SIZE

    probes = [long_start_block + 1]
    got = {
        r.probe: (r.block_start, r.rec_block_pos, r.rec_offset)
        for r in qa.find_starts(spark_bam, path, probes).collect()
    }
    p = probes[0]
    want_block = min(s for s in block_starts if s >= p)
    want_rec = min(r for r in rec_pos if r[0] >= want_block)
    assert got[p] == (want_block, want_rec[0], want_rec[1])


def test_find_starts_randomized_fixtures(spark_bam, tmp_path):
    # Differential sweep over randomized fixture geometries: varied
    # record counts, block payloads, and seeds; every probe must agree
    # with the sidecar-derived relational answer.
    import random

    from spark_bam_spark.bam.writer import make_fixture

    rng = random.Random(1307)
    for n, payload in ((80, 512), (150, 1024), (300, 2048)):
        seed = rng.randrange(10_000)
        path = str(tmp_path / f"r{n}_{payload}.bam")
        res = make_fixture(path, n=n, block_payload=payload, seed=seed)
        block_starts = sorted(b.start for b in res.blocks)
        rec_pos = sorted((p.block_pos, p.offset) for p in res.record_positions)
        last = block_starts[-1]
        probes = sorted({rng.randrange(last + 1) for _ in range(25)} | {0, last})
        got = {
            r.probe: (r.block_start, r.rec_block_pos, r.rec_offset)
            for r in qa.find_starts(spark_bam, path, probes).collect()
        }
        for p in probes:
            want_block = min(s for s in block_starts if s >= p)
            want = min((r for r in rec_pos if r[0] >= want_block), default=None)
            if want is None:
                assert p not in got or got[p][0] == want_block
                continue
            assert got[p] == (want_block, want[0], want[1]), (n, payload, seed, p)


def test_upstream_checker_is_strictly_weaker(spark_bam, bam):
    calls = qa.calls(spark_bam, bam.path, stride=1)
    # any position eager accepts, upstream must accept (fewer checks)
    violations = calls.filter(F.col("eager_call") & ~F.col("upstream_call")).count()
    assert violations == 0
    # eager has zero FPs/FNs; upstream may have FPs but never FNs
    eager_wrong = calls.filter(F.col("eager_call") != F.col("oracle_call")).count()
    upstream_fn = calls.filter(F.col("oracle_call") & ~F.col("upstream_call")).count()
    assert eager_wrong == 0 and upstream_fn == 0
    upstream_fp = calls.filter(F.col("upstream_call") & ~F.col("oracle_call")).count()
    print("upstream FPs on fixture:", upstream_fp)


def test_sorted_range_repartition_disjoint_ordered(spark_bam, bam):
    reads = read_bam(spark_bam, bam.path)
    parted = qa.sorted_range_repartition(reads, n=6)
    bounds = (
        parted.select(F.spark_partition_id().alias("pid"), "block_pos", "offset")
        .groupBy("pid")
        .agg(
            F.min(F.struct("block_pos", "offset")).alias("lo"),
            F.max(F.struct("block_pos", "offset")).alias("hi"),
        )
        .orderBy("pid")
        .collect()
    )
    assert len(bounds) > 1
    for a, b in zip(bounds, bounds[1:]):
        assert (a["hi"]["block_pos"], a["hi"]["offset"]) <= (b["lo"]["block_pos"], b["lo"]["offset"])


class TestFullCheckReports:
    """CDF / close-calls / FP PosMetadata (FullCheck.scala:150-260,
    CheckerApp.scala:90-140, PosMetadata.scala:40-88)."""

    def test_flags_cdf_matches_histogram_totals(self, spark_bam, bam):
        from spark_bam_spark.operators import qa
        import pyspark.sql.functions as F

        cdf = qa.flags_cdf(spark_bam, bam.path).collect()
        assert cdf, "cdf empty"
        # cumulative counts are monotone per flag and >= the group count
        by_flag = {}
        for r in cdf:
            prev = by_flag.get(r.flag, 0)
            assert r.n_flag_cum == prev + r.n_flag, (r.flag, r.num_flags)
            by_flag[r.flag] = r.n_flag_cum
        # per-flag totals must equal direct sums over the sweep
        sweep = qa.flags_sweep(spark_bam, bam.path)
        direct = sweep.agg(
            *[F.sum(F.col(k).cast("long")).alias(k) for k in by_flag]
        ).first()
        for k, cum in by_flag.items():
            assert cum == direct[k], k

    def test_close_calls_annotated_with_next_record(self, spark_bam, bam):
        from spark_bam_spark.operators import qa

        cc = qa.close_calls(spark_bam, bam.path).collect()
        assert cc
        assert all(r.num_flags <= 2 for r in cc)
        annotated = [r for r in cc if r.delta is not None]
        assert annotated, "no close call has a next record"
        truth = {(p.block_pos, p.offset) for p in bam.record_positions}
        for r in annotated[:50]:
            assert r.delta > 0  # a close call is never a true start
            assert (r.next_rec_block_pos, r.next_rec_offset) in truth

    def test_fp_metadata_annotates_upstream_fps(self, spark_bam, bam):
        from spark_bam_spark.operators import qa

        fps = qa.fp_metadata(spark_bam, bam.path).collect()
        # the synthetic fixture has upstream FPs only if block-boundary
        # garbage happens to parse — assert consistency, not count
        truth = {(p.block_pos, p.offset) for p in bam.record_positions}
        for r in fps:
            assert (r.block_pos, r.offset) not in truth  # FPs are not true starts
            assert r.num_flags >= 1  # full checker must flag every FP
            if r.delta is not None:
                assert r.delta > 0
                assert (r.next_rec_block_pos, r.next_rec_offset) in truth


class TestCompareSplitsMulti:
    def test_per_file_results_and_agreement(self, spark_bam, tmp_path):
        from spark_bam_spark.bam.writer import make_fixture
        from spark_bam_spark.operators import qa

        paths = []
        for i, n in enumerate((400, 700)):
            p = str(tmp_path / f"cmp{i}.bam")
            make_fixture(p, n=n, block_payload=4096, seed=20 + i)
            paths.append(p)
        per_file = {r.path: r for r in qa.compare_splits_multi(spark_bam, paths, 16384).collect()}
        assert set(per_file) == set(paths)
        for p, r in per_file.items():
            # on clean fixtures both checkers resolve identical splits
            assert r.n_eager_splits > 1
            assert r.n_eager_only == 0 and r.n_upstream_only == 0
            assert r.n_both == r.n_eager_splits == r.n_upstream_splits
            assert r.eager_ms > 0 and r.upstream_ms > 0

    def test_stats_reduction(self, spark_bam, tmp_path):
        from spark_bam_spark.bam.writer import make_fixture
        from spark_bam_spark.operators import qa

        paths = []
        for i, n in enumerate((400, 700, 900)):
            p = str(tmp_path / f"st{i}.bam")
            make_fixture(p, n=n, block_payload=4096, seed=30 + i)
            paths.append(p)
        row = qa.compare_splits_stats(spark_bam, paths, 16384).first()
        assert row.n_files == 3
        assert row.total_eager_splits == row.total_both == row.total_upstream_splits
        assert row.total_eager_only == 0 and row.total_upstream_only == 0
        assert row.ratio_min <= row.ratio_median <= row.ratio_max


def test_idxstats_bam_sam_agree(spark, sf_small):
    from spark_bam_spark.queries import load_all

    rows = load_all()["bam_idxstats"].fn(spark, sf_small).collect()
    assert len(rows) == 4  # contigs 1,2,3 + unplaced '*'
    assert all(r["match"] for r in rows)
    assert sum(r["bam_mapped"] + r["bam_unmapped"] for r in rows) == 2500
