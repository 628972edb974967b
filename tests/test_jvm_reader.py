"""Differential tests: the bamjvm DataSourceV2 reader against the
pure-Python decoder (tests/bam_oracle.py: bgzf.block_stream +
parse_header + records.decode_record, no Spark).  Row-for-row equality
here ties the JVM scan to an implementation that shares none of its
code; bam_scan_reads_jvm additionally pins the JVM path against the
committed truth parquet through its registry oracle.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import bgzf, jvmreader
from spark_bam_spark.bam.reader import READS_FIELDS, read_bam, read_blocks
from tests.bam_oracle import COLUMNS, bam_files, oracle_rows, scan_rows

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)


@pytest.fixture(scope="module")
def fixture_path() -> str:
    from spark_bam_spark.queries.bam_qa import _fixture_path

    return _fixture_path()


@pytest.fixture(scope="module")
def py_rows(fixture_path):
    return oracle_rows(fixture_path)


def _row(t: tuple) -> dict:
    return dict(zip(COLUMNS, t))


def _parse_ranges(spec: str) -> list[tuple[int, int]]:
    """The ``ranges`` option grammar: 'lo-hi,...', k/m/g suffixes, open end."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}

    def num(tok: str) -> int:
        tok = tok.strip().lower()
        unit = units.get(tok[-1:], 1)
        tok = tok[:-1] if tok[-1:] in units else tok
        return int(float(tok or 0) * unit)

    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.append((num(lo), num(hi) if hi.strip() else 1 << 62))
    return out


def test_full_width_equality(spark, fixture_path, py_rows):
    got = scan_rows(read_bam(spark, fixture_path, split_size=16384))
    assert got == py_rows
    assert len(got) == 2500


@pytest.mark.parametrize("split_size", [1024, 4096, 7777, 65536, 1 << 22, None])
def test_split_invariance(spark, fixture_path, py_rows, split_size):
    """The record set must be independent of split geometry — every split
    boundary exercises find_block_start + the eager record checker."""
    got = scan_rows(read_bam(spark, fixture_path, split_size=split_size))
    assert got == py_rows


def test_schema_matches_python_source(spark, fixture_path):
    """The scan's schema is the documented read schema, READS_DDL."""
    jv = read_bam(spark, fixture_path)
    assert [(f.name, f.dataType.simpleString()) for f in jv.schema] == READS_FIELDS


def test_column_pruning_pushes_to_scan(spark, fixture_path):
    """Catalyst prunes via SupportsPushDownRequiredColumns: the scan's
    readSchema must shrink to the projection."""
    jv = read_bam(spark, fixture_path).select("pos", "rname")
    plan = jv._jdf.queryExecution().executedPlan().toString()
    scan_line = next(line for line in plan.splitlines() if "BatchScan" in line)
    assert "pos" in scan_line and "rname" in scan_line
    assert "qual" not in scan_line and "tags" not in scan_line
    # and the values survive the pruned decode
    n = jv.filter(F.col("rname").isNotNull()).count()
    assert 0 < n <= 2500


def test_count_only_scan(spark, fixture_path):
    assert read_bam(spark, fixture_path, split_size=4096).count() == 2500


def test_columnar_batch_boundary(spark, fixture_path):
    """2500 records in one split crosses no 4096-row batch boundary; the
    doubled directory input (5000 rows, single-file splits) does — both
    batch shapes must count correctly."""
    df = read_bam(spark, fixture_path, split_size=1 << 26)
    assert df.count() == 2500


def test_directory_input(spark, fixture_path, tmp_path_factory):
    """Directory loads scan every *.bam directly in the directory, in name
    order.  A concurrent writer's temp file, the .bai/.records sidecars
    and a subdirectory's .bam are invisible to the scan; an empty
    directory plans no split and counts 0."""
    import shutil

    d = tmp_path_factory.mktemp("bams")
    shutil.copy(fixture_path, d / "a.bam")
    shutil.copy(fixture_path, d / "b.bam")
    # decoys: a torn in-progress part, the sidecars, a nested .bam
    (d / ".part-00001-7.bam.inprogress").write_bytes(b"torn")
    for suffix in (".bai", ".records"):
        shutil.copy(fixture_path + suffix, d / ("a.bam" + suffix))
    (d / "nested").mkdir()
    shutil.copy(fixture_path, d / "nested" / "c.bam")
    df = read_bam(spark, str(d))
    assert df.count() == 5000
    # block_pos/offset identical per copy: each file decodes independently
    per = df.groupBy("block_pos", "offset").count().select("count").distinct().collect()
    assert per == [pytest.approx(2)] or [r[0] for r in per] == [2]
    assert read_bam(spark, str(tmp_path_factory.mktemp("empty"))).count() == 0


def test_batch_scan_is_the_only_read_surface(spark, fixture_path, tmp_path):
    """The source reads batches only: no streaming read, no row reader
    switch."""
    import shutil

    shutil.copy(fixture_path, tmp_path / "a.bam")
    jvmreader.ensure_session(spark)
    with pytest.raises(Exception, match="does not support streamed reading"):
        spark.readStream.format(jvmreader.FORMAT).load(str(tmp_path))
    with pytest.raises(TypeError):
        read_bam(spark, fixture_path, columnar=False)


@pytest.mark.parametrize(
    "predicate,keep",
    [
        (lambda df: (df.rname == "1") & (df.pos >= 13000) & (df.pos < 1_000_000),
         lambda r: r["rname"] == "1" and 13000 <= r["pos"] < 1_000_000),
        (lambda df: df.rname == "2", lambda r: r["rname"] == "2"),
        (lambda df: df.rname.isin("1", "3"), lambda r: r["rname"] in ("1", "3")),
        (lambda df: df.ref_idx == 0, lambda r: r["ref_idx"] == 0),
        (lambda df: (df.pos > 500_000) & (df.pos <= 900_000),
         lambda r: 500_000 < r["pos"] <= 900_000),
        (lambda df: df.rname == "no-such-contig", lambda r: r["rname"] == "no-such-contig"),
    ],
    ids=["interval", "rname-eq", "rname-in", "ref-idx", "pos-only", "unknown-contig"],
)
def test_filter_pushdown_equality(spark, fixture_path, py_rows, predicate, keep):
    """Indexed scans: the JVM reader's BAI pruning (or none, for the
    filters the BAI cannot answer) must return exactly the decoder's rows
    for the same predicate — pruning can only skip, never corrupt."""
    jv = read_bam(spark, fixture_path, split_size=16384)
    cols = ["qname", "rname", "pos", "end_pos"]
    want = sorted(((r["qname"], r["rname"], r["pos"], r["end_pos"])
                   for r in map(_row, py_rows) if keep(r)), key=repr)
    assert scan_rows(jv.filter(predicate(jv)), cols) == want


def _put_index(state: str, fixture_path: str, path: str) -> None:
    """Give ``path`` (a fresh copy of the fixture) a .bai in ``state``."""
    import shutil

    from spark_bam_spark.bam.bai import parse_bai, write_bai
    from spark_bam_spark.bam.writer import make_fixture

    bai = path + ".bai"
    if state == "truncated":
        with open(fixture_path + ".bai", "rb") as f:
            data = f.read()
        with open(bai, "wb") as f:
            f.write(data[: len(data) // 2])
    elif state == "nref-mismatch":
        idx = parse_bai(fixture_path + ".bai")
        idx.bins.append({})
        idx.linear.append([])
        idx.stats.append(None)
        write_bai(bai, idx)
    elif state == "past-eof":
        larger = os.path.join(os.path.dirname(path), "larger.bam")
        make_fixture(larger, n=10_000, block_payload=4096)
        shutil.copy(larger + ".bai", bai)
        assert os.path.getsize(larger) > os.path.getsize(path)
    else:
        shutil.copy(fixture_path + ".bai", bai)
    if state == "stale":
        t = os.stat(path).st_mtime_ns - 60 * 10**9
        os.utime(bai, ns=(t, t))


@pytest.mark.parametrize("index", ["bai", "stale", "truncated", "nref-mismatch", "past-eof"])
def test_pruning_source_isolated(spark, fixture_path, tmp_path_factory, index):
    """A fixture copy carrying a fresh .bai prunes partitions and returns
    the exact filtered row set.  An index that fails a check (older than
    its .bam, cut short, a different reference count, offsets past the
    .bam's end) is ignored: the same rows, and as many partitions as the
    unfiltered scan, without an error."""
    import shutil

    d = tmp_path_factory.mktemp(f"idx_{index}")
    path = str(d / "f.bam")
    shutil.copy(fixture_path, path)
    _put_index(index, fixture_path, path)

    expect = sorted(((r["qname"], r["pos"]) for r in map(_row, oracle_rows(fixture_path))
                     if r["rname"] == "1" and 13000 <= r["pos"] < 1_000_000), key=repr)
    jv = read_bam(spark, path, split_size=16384)
    pruned = jv.filter((jv.rname == "1") & (jv.pos >= 13000) & (jv.pos < 1_000_000))
    assert scan_rows(pruned, ["qname", "pos"]) == expect
    if index == "bai":
        assert pruned.select("pos").rdd.getNumPartitions() < jv.rdd.getNumPartitions()
    else:
        assert pruned.select("pos").rdd.getNumPartitions() == jv.rdd.getNumPartitions()


def test_filter_pushdown_prunes_partitions(spark, fixture_path):
    """A selective interval must plan fewer tasks than the full scan —
    the BAI actually skips byte ranges, not just rows."""
    full = read_bam(spark, fixture_path, split_size=16384)
    pruned = full.filter((full.rname == "1") & (full.pos >= 13000) & (full.pos < 50_000))
    n_full = full.rdd.getNumPartitions()
    n_pruned = pruned.select("pos").rdd.getNumPartitions()
    assert n_pruned < n_full
    assert pruned.count() > 0  # non-vacuous


def _local_bytes_read(spark) -> int:
    """Bytes read so far through every Hadoop filesystem of scheme file."""
    stats = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    return sum(s.getBytesRead() for s in stats if s.getScheme() == "file")


def test_planning_reads_header_and_bai_once(spark, fixture_path, tmp_path):
    """Planning a fresh one-file scan reads its header once and its .bai
    at most once, although Spark asks the scan for its partitions from
    two physical plan nodes.  The first getNumPartitions() of a
    DataFrame plans; no job runs, so the driver does all the reading."""
    import shutil

    path = str(tmp_path / "f.bam")
    shutil.copy(fixture_path, path)
    shutil.copy(fixture_path + ".bai", path + ".bai")
    bai_size = os.path.getsize(path + ".bai")
    header_read = min(bgzf.MAX_BLOCK_SIZE, os.path.getsize(path))

    full = read_bam(spark, path, split_size=16384)
    before = _local_bytes_read(spark)
    n_full = full.rdd.getNumPartitions()
    assert 0 < _local_bytes_read(spark) - before <= header_read

    pruned = full.filter(full.rname == "1")
    before = _local_bytes_read(spark)
    n_pruned = pruned.rdd.getNumPartitions()
    grown = _local_bytes_read(spark) - before
    assert bai_size < grown <= header_read + bai_size
    assert n_pruned < n_full  # the index was used, not only read


def test_scan_reads_each_block_once(spark, fixture_path, tmp_path):
    """A fresh one-file scan at default splits, planning included, reads
    about the file once: every block is read once, whole, from one
    sequential stream per split (plus the planner's header window)."""
    import shutil

    path = str(tmp_path / "f.bam")
    shutil.copy(fixture_path, path)
    df = read_bam(spark, path)
    before = _local_bytes_read(spark)
    assert df.count() == 2500
    assert _local_bytes_read(spark) - before <= 1.5 * os.path.getsize(path)


@pytest.mark.parametrize("spec", ["0-64k", "64k-", "0-50k,200k-", "100k-0.2m"])
def test_byte_ranges_option(spark, fixture_path, py_rows, spec):
    """P3 byte-range selection: a split is planned iff it intersects a
    range, and a split owns the records starting in its blocks — so the
    row set is the decoder's records whose block falls in a planned
    16 KiB split."""
    size = os.path.getsize(fixture_path)
    ranges = _parse_ranges(spec)

    def planned(block_pos: int) -> bool:
        lo = block_pos // 16384 * 16384
        hi = min(lo + 16384, size)
        return any(a < hi and b > lo for a, b in ranges)

    a = [t for t in py_rows if planned(_row(t)["block_pos"])]
    b = scan_rows(read_bam(spark, fixture_path, split_size=16384, ranges=spec))
    assert a == b
    assert 0 < len(a) < 2500 or spec == "64k-"  # selective, not vacuous


def test_tags_semantics(spark, fixture_path, py_rows):
    """Z-tags surface as map entries; fixed-size typed tags are skipped —
    exact parity with the Python decoder, already asserted row-for-row in
    test_full_width_equality; here: at least some tags are non-empty so
    the comparison is not vacuous."""
    nonempty = [r for r in map(_row, py_rows) if r["tags"]]
    assert nonempty, "fixture carries no Z tags; tag parity test is vacuous"


def test_typed_tags_skip_and_stop(spark, tmp_path):
    """Fixed-size typed tags, H hex strings and B arrays are skipped
    structurally, Z tags surface wherever they sit, and the scan stops at
    an unknown type — the same tags map as records.decode_record."""
    import struct

    from spark_bam_spark.bam.records import BamRecord, encode_record
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, encode_header

    rec = BamRecord(
        qname="t1", flag=0x1, ref_idx=0, pos=100, mapq=30, cigar=[(0, 4)],
        mate_ref_idx=0, mate_pos=150, tlen=50, seq="ACGT", qual=bytes([30] * 4),
        tags={"RG": "rg0"},
    )
    raw = bytearray(encode_record(rec))
    raw += (
        b"NMC\x05"                      # C (uint8) — skipped
        + b"ASs" + struct.pack("<h", -7)  # s (int16) — skipped
        + b"XZZ" + b"a:b:c\x00"           # Z with colons — surfaced
        + b"BAB" + b"c\x02\x00\x00\x00\x01\x02"  # B array — skipped
        + b"YZZ" + b"reachable\x00"       # Z after B — surfaced
        + b"QQ?" + b"x"                   # unknown type '?' — scan stops
        + b"ZZZ" + b"never\x00"           # after unknown: unreachable
    )
    struct.pack_into("<i", raw, 0, len(raw) - 4)
    path = str(tmp_path / "typed.bam")
    with open(path, "wb") as f:
        f.write(bgzf.compress_block(encode_header(CONTIG_NAMES, CONTIG_LENGTHS) + bytes(raw))
                + bgzf.EOF_BLOCK)
    got = scan_rows(read_bam(spark, path))
    assert got == oracle_rows(path)
    assert dict(_row(got[0])["tags"]) == {"RG": "rg0", "XZ": "a:b:c", "YZ": "reachable"}


def test_empty_and_unplaced_records(spark, tmp_path):
    """An unplaced record with no cigar, seq or qual next to a soft-clipped
    placed one, in 64-byte blocks: null rname, empty seq, '*' cigar and
    end_pos -1 for the first; 2S3M ending at 503 for the second."""
    from spark_bam_spark.bam.records import BamRecord
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, write_bam

    recs = [
        BamRecord(qname="u1", flag=0x4, ref_idx=-1, pos=-1, mapq=0, cigar=[],
                  mate_ref_idx=-1, mate_pos=-1, tlen=0, seq="", qual=b"", tags={}),
        BamRecord(qname="m1", flag=0x1, ref_idx=1, pos=500, mapq=60, cigar=[(4, 2), (0, 3)],
                  mate_ref_idx=0, mate_pos=700, tlen=-20, seq="ACGTN", qual=bytes([0, 93, 40, 2, 11])),
    ]
    path = str(tmp_path / "two.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=64)
    got = scan_rows(read_bam(spark, path, split_size=64))
    assert got == oracle_rows(path)
    rows = {r["qname"]: r for r in map(_row, got)}
    u, m = rows["u1"], rows["m1"]
    assert u["rname"] is None and u["seq"] == "" and u["cigar"] == "*" and u["end_pos"] == -1
    assert m["cigar"] == "2S3M" and m["end_pos"] == 503
    assert m["seq"] == "ACGTN" and len(m["qual"]) == 5


@pytest.mark.parametrize(
    "seed,block_payload,n",
    [(11, 512, 300), (12, 937, 500), (13, 65280, 800), (14, 4096, 64)],
)
def test_generated_fixture_parity(spark, tmp_path_factory, seed, block_payload, n):
    """Seeded-random fixtures across block geometries — 512-byte blocks
    make nearly every record span block boundaries, the worst case for
    the virtual-position bookkeeping and re-sync."""
    from spark_bam_spark.bam.writer import make_fixture

    path = str(tmp_path_factory.mktemp("gen") / f"g{seed}.bam")
    make_fixture(path, n=n, block_payload=block_payload, seed=seed)
    jv = scan_rows(read_bam(spark, path, split_size=2048))
    assert oracle_rows(path) == jv
    assert len(jv) == n


def test_empty_bam(spark, tmp_path_factory):
    """Header-only BAM: zero rows, no errors."""
    from spark_bam_spark.bam.writer import make_fixture

    path = str(tmp_path_factory.mktemp("gen") / "empty.bam")
    make_fixture(path, n=0)
    assert oracle_rows(path) == []
    assert read_bam(spark, path).count() == 0


def test_permissive_salvage_parity(spark, tmp_path_factory):
    """Corrupt one mid-file block payload: permissive mode salvages real
    records only (each equal, field for field, to the decoder's row of the
    clean file), every split that starts after the corrupt block re-syncs
    and serves all of its records, and failfast raises."""
    import shutil

    from spark_bam_spark.bam.writer import make_fixture

    d = tmp_path_factory.mktemp("corrupt")
    clean = str(d / "clean.bam")
    res = make_fixture(clean, n=1200, block_payload=2048, seed=7)
    corrupt = str(d / "corrupt.bam")
    shutil.copy(clean, corrupt)
    blocks = sorted(res.blocks, key=lambda b: b.start)
    victim = blocks[len(blocks) // 2]
    with open(corrupt, "r+b") as f:
        f.seek(victim.start + 20)
        f.write(b"\xde\xad\xbe\xef" * 8)

    want = oracle_rows(clean)
    got = scan_rows(read_bam(spark, corrupt, split_size=4096, mode="permissive"))
    assert 0 < len(got) < 1200
    assert set(got) <= set(want)
    resync = -(-(victim.start + victim.compressed_size) // 4096) * 4096
    after = [t for t in want if _row(t)["block_pos"] >= resync]
    assert after and set(after) <= set(got)

    with pytest.raises(Exception):
        read_bam(spark, corrupt, split_size=4096).count()


def test_scan_1m_aggregates(spark, sf_medium):
    """Decode-bound-scale parity: the 1M-record fixture tiles the 50k
    fixture's records 20 times, so its full-width aggregates are 20x the
    decoder's over the 50k file (the numbers bam_scan_1m pins against its
    derived oracle)."""
    from spark_bam_spark.queries import bam_qa

    bam_qa.bam_scan_1m(spark, sf_medium)  # builds the tiled fixture

    def aggs(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("seq_len").alias("bases"),
            F.sum(F.length("qual")).alias("quals"),
            F.count_distinct("rname").alias("contigs"),
        ).collect()[0]

    tile = oracle_rows(bam_qa._big_fixture_path(), ["rname", "seq_len", "qual"])
    jv = aggs(read_bam(spark, bam_qa._HUGE_FIXTURE))
    assert tuple(jv) == (
        20 * len(tile),
        20 * sum(seq_len for _, seq_len, _ in tile),
        20 * sum(len(qual) for _, _, qual in tile),
        len({rname for rname, _, _ in tile if rname is not None}),
    )
    assert jv["n"] == 1_000_000


# ------------------------------------------------------ blocks source


def _oracle_blocks(path: str, ranges=None) -> list[tuple]:
    """(path, start, compressed_size, uncompressed_size) of every data
    block, from bgzf.metadata_stream; ``ranges`` keeps blocks whose
    header starts inside one."""
    out = []
    for p in bam_files(path):
        with open(p, "rb") as f:
            out += [(p, m.start, m.compressed_size, m.uncompressed_size)
                    for m in bgzf.metadata_stream(f)
                    if ranges is None or any(lo <= m.start < hi for lo, hi in ranges)]
    return sorted(out)


@pytest.mark.parametrize("split_size", [4096, 65536, 1 << 22])
def test_blocks_source_parity(spark, fixture_path, split_size):
    """bamjvm.BlocksSource vs bgzf.metadata_stream: identical block
    metadata rows (incl. the path column downstream QA pipelines open
    directly) for every split geometry."""
    jv = read_blocks(spark, fixture_path, split_size=split_size)
    assert jv.columns == ["path", "start", "compressed_size", "uncompressed_size"]
    a = _oracle_blocks(fixture_path)
    assert sorted(map(tuple, jv.collect())) == a
    assert len(a) > 0


def test_blocks_source_directory_and_ranges(spark, fixture_path, tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("blocks_dir")
    shutil.copy(fixture_path, d / "a.bam")
    shutil.copy(fixture_path, d / "b.bam")
    jv = read_blocks(spark, str(d), split_size=65536, ranges="0-100k")
    a = _oracle_blocks(str(d), _parse_ranges("0-100k"))
    assert sorted(map(tuple, jv.collect())) == a
    assert 0 < len(a) < len(_oracle_blocks(str(d)))  # ranges actually selective


@pytest.fixture(scope="module")
def tail_variants(tmp_path_factory):
    """A 4 KiB-payload file and three copies with a damaged tail: no EOF
    block, 100 bytes of garbage after the EOF block, and the last data
    block cut short with no EOF block.  Also returns the intact file's
    .blocks sidecar rows and the oracle rows of the records that end
    before the last data block."""
    from spark_bam_spark.bam.writer import (
        CONTIG_LENGTHS, CONTIG_NAMES, synth_records, write_bam)

    d = tmp_path_factory.mktemp("tails")
    intact = str(d / "intact.bam")
    res = write_bam(intact, CONTIG_NAMES, CONTIG_LENGTHS, synth_records(1200, seed=21),
                    block_payload=4096)
    with open(intact, "rb") as f:
        data = f.read()
    last = res.blocks[-1]
    assert data[last.start + last.compressed_size:] == bgzf.EOF_BLOCK
    tails = {
        "no_eof": data[:-len(bgzf.EOF_BLOCK)],
        "garbage": data + bytes(range(100)),
        "cut": data[:last.start + last.compressed_size // 2],
    }
    paths = {}
    for name, body in tails.items():
        paths[name] = str(d / f"{name}.bam")
        with open(paths[name], "wb") as f:
            f.write(body)
    with open(intact + ".blocks") as f:
        sidecar = [tuple(map(int, line.split(","))) for line in f]
    # a record ends before the last block iff the next one starts there
    # or earlier (block payloads are exact 4 KiB slices of the stream)
    index = {b.start: i for i, b in enumerate(res.blocks)}
    ustarts = [index[p.block_pos] * 4096 + p.offset for p in res.record_positions]
    cut_u = (len(res.blocks) - 1) * 4096
    ends = ustarts[1:] + [cut_u + last.uncompressed_size]
    kept = {(p.block_pos, p.offset) for p, e in zip(res.record_positions, ends) if e <= cut_u}
    assert cut_u not in ustarts  # a record runs from the kept blocks into the cut one
    want = oracle_rows(intact)
    before_cut = [t for t in want if (_row(t)["block_pos"], _row(t)["offset"]) in kept]
    assert 0 < len(before_cut) < len(want)
    return paths, want, sidecar, before_cut


def _block_rows(df) -> list[tuple]:
    return sorted((r.start, r.compressed_size, r.uncompressed_size) for r in df.collect())


@pytest.mark.parametrize("split_size", [4096, None])
@pytest.mark.parametrize("tail", ["no_eof", "garbage"])
def test_missing_eof_or_trailing_garbage_ends_quietly(spark, tail_variants, tail, split_size):
    """A file without its EOF block, or with garbage after it, scans
    without error and equals the intact file: the block stream ends at the
    end of the bytes or at the EOF block, and a split's block-start search
    stops at the EOF block, so the splits that open in the last data
    blocks find their blocks."""
    paths, want, sidecar, _ = tail_variants
    path = paths[tail]
    assert scan_rows(read_bam(spark, path, split_size=split_size)) == want
    assert _block_rows(read_blocks(spark, path, split_size=split_size)) == sidecar


@pytest.mark.parametrize("split_size", [4096, None])
def test_cut_last_block(spark, tail_variants, split_size):
    """A last data block cut short ends the block stream before it: the
    blocks scan returns the blocks before the cut, failfast raises on the
    record that runs into it, and permissive returns exactly the records
    that end before the cut block."""
    paths, _, sidecar, before_cut = tail_variants
    cut = paths["cut"]
    assert _block_rows(read_blocks(spark, cut, split_size=split_size)) == sidecar[:-1]
    with pytest.raises(Exception, match="truncated/invalid record"):
        read_bam(spark, cut, split_size=split_size).count()
    got = scan_rows(read_bam(spark, cut, split_size=split_size, mode="permissive"))
    assert got == before_cut


def test_blocks_source_column_pruning(spark, fixture_path):
    df = read_blocks(spark, fixture_path).select("start", "compressed_size")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = next(line for line in plan.splitlines() if "BatchScan" in line)
    assert "uncompressed_size" not in scan_line
    assert df.count() > 0


def test_registered_query_matches_oracle(spark, sf_medium):
    """bam_scan_reads_jvm vs its DuckDB oracle — the driver's check,
    run locally at the driver's scale factor."""
    from spark_bam_spark.queries import load_all
    from tests.oracle import compare

    registry = load_all()
    compare(spark, "bam_scan_reads_jvm", registry["bam_scan_reads_jvm"], sf_medium)


# ------------------------------------------- gated differential fuzz

_FUZZ = os.environ.get("SPARK_GRAFT_JVM_FUZZ") == "1"


@pytest.mark.skipif(not _FUZZ, reason="set SPARK_GRAFT_JVM_FUZZ=1 to run")
def test_fuzz_geometry_parity(spark, tmp_path_factory):
    """Hypothesis sweep over the fixture parameter space (record count,
    block geometry, split size, RNG seed): the JVM and Python readers
    must return the decoder's full-width row set for EVERY combination —
    the generalization of test_generated_fixture_parity's 4 fixed
    corners.  Env-gated: each example writes a BAM and runs two scans."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    from spark_bam_spark.bam.writer import make_fixture

    base = tmp_path_factory.mktemp("jvm_fuzz")
    counter = {"i": 0}

    @settings(max_examples=25, deadline=None)
    @given(
        seed=st.integers(0, 10_000),
        n=st.integers(0, 600),
        block_payload=st.sampled_from([512, 937, 2048, 4096, 17001, 65280]),
        split_size=st.sampled_from([1024, 4096, 7777, 65536, 1 << 22]),
    )
    def check(seed, n, block_payload, split_size):
        counter["i"] += 1
        path = str(base / f"f{counter['i']}.bam")
        make_fixture(path, n=n, block_payload=block_payload, seed=seed)
        jv = scan_rows(read_bam(spark, path, split_size=split_size))
        assert oracle_rows(path) == jv
        assert len(jv) == n

    check()


def test_many_file_directory_parallel_planning(spark, tmp_path_factory):
    """Per-file planning runs on a thread pool for multi-file inputs
    (object-store latency hiding); the split list must stay in FILE
    ORDER and the row set equal to the decoder's.  12 distinct files
    (different sizes/seeds) make ordering mistakes visible."""
    from spark_bam_spark.bam.writer import make_fixture

    d = tmp_path_factory.mktemp("many_bams")
    total = 0
    for i in range(12):
        n = 50 + 40 * i
        make_fixture(str(d / f"f{i:02d}.bam"), n=n, block_payload=2048, seed=100 + i)
        total += n
    jv = scan_rows(read_bam(spark, str(d), split_size=4096))
    assert len(jv) == total
    assert oracle_rows(str(d)) == jv
    # blocks source over the same directory: same parallel-planning path
    jvb = sorted(map(tuple, read_blocks(spark, str(d), split_size=4096).collect()))
    assert _oracle_blocks(str(d)) == jvb and len(jvb) > 12


def test_user_read_schema_validated(spark, fixture_path):
    """ADVICE r10: supportsExternalMetadata() exists for the write side;
    a user-specified READ schema must match the real column names/types
    or fail fast — the readers resolve columns by name with fixed types,
    so a mistyped schema would otherwise produce corrupt rows."""
    from spark_bam_spark.bam.jvmreader import FORMAT

    jvmreader.ensure_session(spark)
    # wrong type: loud, immediate
    with pytest.raises(Exception, match="must be BIGINT"):
        (spark.read.format(FORMAT).schema("pos string")
         .load(fixture_path).collect())
    # unknown column: loud, immediate
    with pytest.raises(Exception, match="unknown column"):
        (spark.read.format(FORMAT).schema("nope int")
         .load(fixture_path).collect())
    # a valid subset schema reads fine
    got = (spark.read.format(FORMAT).schema("qname string, pos bigint")
           .load(fixture_path))
    assert got.columns == ["qname", "pos"]
    assert got.count() == 2500
