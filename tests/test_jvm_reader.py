"""Differential tests: JVM DataSourceV2 BAM reader vs the Python Data
Source.  The Python source is the oracle-verified reference path
(CORRECTNESS r6: bam_scan_reads et al.), so row-for-row equality here
transfers its evidence to the JVM twin; bam_scan_reads_jvm additionally
pins the JVM path against the committed truth parquet via the driver.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)


def _canon(df):
    # MapType is not orderable/comparable via collect across engines in a
    # stable way; serialize it
    return df.withColumn("tags", F.to_json(F.col("tags"))).orderBy("block_pos", "offset")


@pytest.fixture(scope="module")
def fixture_path() -> str:
    from spark_bam_spark.queries.bam_qa import _fixture_path

    return _fixture_path()


@pytest.fixture(scope="module")
def py_rows(spark, fixture_path):
    from spark_bam_spark.bam.datasource import register as reg

    reg(spark)
    df = spark.read.format("bam").option("split_size", 1 << 20).load(fixture_path)
    return _canon(df).collect()


def test_full_width_equality(spark, fixture_path, py_rows):
    got = _canon(jvmreader.read_bam_jvm(spark, fixture_path, split_size=16384)).collect()
    assert got == py_rows
    assert len(got) == 2500


@pytest.mark.parametrize("split_size", [1024, 4096, 7777, 65536, 1 << 22, None])
def test_split_invariance(spark, fixture_path, py_rows, split_size):
    """The record set must be independent of split geometry — every split
    boundary exercises find_block_start + the eager record checker."""
    got = _canon(jvmreader.read_bam_jvm(spark, fixture_path, split_size=split_size)).collect()
    assert got == py_rows


def test_schema_matches_python_source(spark, fixture_path):
    from spark_bam_spark.bam.datasource import register as reg

    reg(spark)
    py = spark.read.format("bam").load(fixture_path)
    jv = jvmreader.read_bam_jvm(spark, fixture_path)
    assert jv.schema == py.schema


def test_column_pruning_pushes_to_scan(spark, fixture_path):
    """Catalyst prunes via SupportsPushDownRequiredColumns: the scan's
    readSchema must shrink to the projection."""
    jv = jvmreader.read_bam_jvm(spark, fixture_path).select("pos", "rname")
    plan = jv._jdf.queryExecution().executedPlan().toString()
    scan_line = next(line for line in plan.splitlines() if "BatchScan" in line)
    assert "pos" in scan_line and "rname" in scan_line
    assert "qual" not in scan_line and "tags" not in scan_line
    # and the values survive the pruned decode
    n = jv.filter(F.col("rname").isNotNull()).count()
    assert 0 < n <= 2500


def test_count_only_scan(spark, fixture_path):
    assert jvmreader.read_bam_jvm(spark, fixture_path, split_size=4096).count() == 2500


def test_columnar_equals_row_path(spark, fixture_path, py_rows):
    """The columnar reader (default) and the row-based reader must agree
    with each other and with the Python source — full width, incl. the
    map column's vector encoding."""
    col = _canon(jvmreader.read_bam_jvm(spark, fixture_path, split_size=16384, columnar=True)).collect()
    row = _canon(jvmreader.read_bam_jvm(spark, fixture_path, split_size=16384, columnar=False)).collect()
    assert col == row == py_rows


def test_columnar_batch_boundary(spark, fixture_path):
    """2500 records in one split crosses no 4096-row batch boundary; the
    doubled directory input (5000 rows, single-file splits) does — both
    batch shapes must count correctly under the columnar path."""
    df = jvmreader.read_bam_jvm(spark, fixture_path, split_size=1 << 26, columnar=True)
    assert df.count() == 2500


def test_directory_input(spark, fixture_path, tmp_path_factory):
    """Directory loads scan every *.bam in name order, matching the
    Python source's multi-file contract."""
    import shutil

    d = tmp_path_factory.mktemp("bams")
    shutil.copy(fixture_path, d / "a.bam")
    shutil.copy(fixture_path, d / "b.bam")
    df = jvmreader.read_bam_jvm(spark, str(d))
    assert df.count() == 5000
    # block_pos/offset identical per copy: each file decodes independently
    per = df.groupBy("block_pos", "offset").count().select("count").distinct().collect()
    assert per == [pytest.approx(2)] or [r[0] for r in per] == [2]


@pytest.mark.parametrize(
    "predicate",
    [
        lambda df: (df.rname == "1") & (df.pos >= 13000) & (df.pos < 1_000_000),
        lambda df: df.rname == "2",
        lambda df: df.rname.isin("1", "3"),
        lambda df: df.ref_idx == 0,
        lambda df: (df.pos > 500_000) & (df.pos <= 900_000),
        lambda df: df.rname == "no-such-contig",
    ],
    ids=["interval", "rname-eq", "rname-in", "ref-idx", "pos-only", "unknown-contig"],
)
def test_filter_pushdown_equality(spark, fixture_path, predicate):
    """Indexed scans: the JVM reader's zone-map pruning (.zones sidecar)
    must return exactly the Python source's rows for the same predicate —
    pruning can only skip, never corrupt."""
    from spark_bam_spark.bam.datasource import register as reg

    reg(spark)
    py = spark.read.format("bam").option("split_size", 16384).load(fixture_path)
    jv = jvmreader.read_bam_jvm(spark, fixture_path, split_size=16384)
    cols = ["qname", "rname", "pos", "end_pos"]
    a = py.filter(predicate(py)).select(cols).orderBy("qname", "pos").collect()
    b = jv.filter(predicate(jv)).select(cols).orderBy("qname", "pos").collect()
    assert a == b


@pytest.mark.parametrize("sidecar", ["bai", "zones"])
def test_pruning_source_isolated(spark, fixture_path, tmp_path_factory, sidecar):
    """Each pruning source must work alone: a fixture copy carrying ONLY
    the .bai (or only the .zones) still prunes partitions and returns the
    exact filtered row set."""
    import shutil

    from spark_bam_spark.bam.datasource import register as reg

    d = tmp_path_factory.mktemp(f"only_{sidecar}")
    path = str(d / "f.bam")
    shutil.copy(fixture_path, path)
    shutil.copy(f"{fixture_path}.{sidecar}", f"{path}.{sidecar}")

    reg(spark)
    expect = (
        spark.read.format("bam").option("split_size", 16384).load(fixture_path)
        .filter("rname = '1' AND pos >= 13000 AND pos < 1000000")
        .select("qname", "pos").orderBy("qname", "pos").collect()
    )
    jv = jvmreader.read_bam_jvm(spark, path, split_size=16384)
    pruned = jv.filter((jv.rname == "1") & (jv.pos >= 13000) & (jv.pos < 1_000_000))
    got = pruned.select("qname", "pos").orderBy("qname", "pos").collect()
    assert got == expect
    assert pruned.select("pos").rdd.getNumPartitions() < jv.rdd.getNumPartitions()


def test_filter_pushdown_prunes_partitions(spark, fixture_path):
    """A selective interval must plan fewer tasks than the full scan —
    the zone map actually skips byte ranges, not just rows."""
    full = jvmreader.read_bam_jvm(spark, fixture_path, split_size=16384)
    pruned = full.filter((full.rname == "1") & (full.pos >= 13000) & (full.pos < 50_000))
    n_full = full.rdd.getNumPartitions()
    n_pruned = pruned.select("pos").rdd.getNumPartitions()
    assert n_pruned < n_full
    assert pruned.count() > 0  # non-vacuous


@pytest.mark.parametrize("spec", ["0-64k", "64k-", "0-50k,200k-", "100k-0.2m"])
def test_byte_ranges_option(spark, fixture_path, spec):
    """P3 byte-range selection: same record set from both readers for the
    same ranges spec (ownership rule makes the row set well-defined)."""
    from spark_bam_spark.bam.datasource import register as reg

    reg(spark)
    py = (spark.read.format("bam").option("split_size", 16384)
          .option("ranges", spec).load(fixture_path))
    jv = jvmreader.read_bam_jvm(spark, fixture_path, split_size=16384, ranges=spec)
    a = _canon(py).collect()
    b = _canon(jv).collect()
    assert a == b
    assert 0 < len(a) < 2500 or spec == "64k-"  # selective, not vacuous


def test_tags_semantics(spark, fixture_path, py_rows):
    """Z-tags surface as map entries; fixed-size typed tags are skipped —
    exact parity with the Python decoder, already asserted row-for-row in
    test_full_width_equality; here: at least some tags are non-empty so
    the comparison is not vacuous."""
    nonempty = [r for r in py_rows if r["tags"] not in (None, "{}")]
    assert nonempty, "fixture carries no Z tags; tag parity test is vacuous"


@pytest.mark.parametrize(
    "seed,block_payload,n",
    [(11, 512, 300), (12, 937, 500), (13, 65280, 800), (14, 4096, 64)],
)
def test_generated_fixture_parity(spark, tmp_path_factory, seed, block_payload, n):
    """Seeded-random fixtures across block geometries — 512-byte blocks
    make nearly every record span block boundaries, the worst case for
    the virtual-position bookkeeping and re-sync."""
    from spark_bam_spark.bam.datasource import register as reg
    from spark_bam_spark.bam.writer import make_fixture

    path = str(tmp_path_factory.mktemp("gen") / f"g{seed}.bam")
    make_fixture(path, n=n, block_payload=block_payload, seed=seed)
    reg(spark)
    py = _canon(spark.read.format("bam").option("split_size", 2048).load(path)).collect()
    jv = _canon(jvmreader.read_bam_jvm(spark, path, split_size=2048)).collect()
    assert py == jv
    assert len(jv) == n


def test_empty_bam(spark, tmp_path_factory):
    """Header-only BAM: zero rows from both readers, no errors."""
    from spark_bam_spark.bam.datasource import register as reg
    from spark_bam_spark.bam.writer import make_fixture

    path = str(tmp_path_factory.mktemp("gen") / "empty.bam")
    make_fixture(path, n=0)
    reg(spark)
    assert spark.read.format("bam").load(path).count() == 0
    assert jvmreader.read_bam_jvm(spark, path).count() == 0


def test_permissive_salvage_parity(spark, tmp_path_factory):
    """Corrupt one mid-file block payload: permissive mode must salvage
    the SAME record set from both readers (walk semantics are identical,
    so the salvage boundary is too), and failfast must raise on both."""
    import shutil

    from spark_bam_spark.bam.datasource import register as reg
    from spark_bam_spark.bam.writer import make_fixture

    d = tmp_path_factory.mktemp("corrupt")
    clean = str(d / "clean.bam")
    res = make_fixture(clean, n=1200, block_payload=2048, seed=7)
    corrupt = str(d / "corrupt.bam")
    shutil.copy(clean, corrupt)
    blocks = sorted(b.start for b in res.blocks)
    victim = blocks[len(blocks) // 2]
    with open(corrupt, "r+b") as f:
        f.seek(victim + 20)
        f.write(b"\xde\xad\xbe\xef" * 8)

    reg(spark)
    py = (spark.read.format("bam").option("split_size", 4096)
          .option("mode", "permissive").load(corrupt))
    jv = jvmreader.read_bam_jvm(spark, corrupt, split_size=4096, mode="permissive")
    a = _canon(py).collect()
    b = _canon(jv).collect()
    assert a == b
    assert 0 < len(a) < 1200

    with pytest.raises(Exception):
        jvmreader.read_bam_jvm(spark, corrupt, split_size=4096).count()


def test_scan_1m_aggregates(spark):
    """Decode-bound-scale parity: the 1M-record fixture's full-width
    aggregates match the Python source (same numbers bam_scan_1m pins
    against its derived oracle)."""
    from spark_bam_spark.queries import bam_qa

    bam_qa.bam_scan_1m(spark, SF := os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    huge = bam_qa._HUGE_FIXTURE

    def aggs(df):
        return df.agg(
            F.count("*").alias("n"),
            F.sum("seq_len").alias("bases"),
            F.sum(F.length("qual")).alias("quals"),
            F.count_distinct("rname").alias("contigs"),
        ).collect()[0]

    from spark_bam_spark.bam.datasource import register as reg

    reg(spark)
    py = aggs(spark.read.format("bam").load(huge))
    jv = aggs(jvmreader.read_bam_jvm(spark, huge))
    assert tuple(py) == tuple(jv)
    assert py["n"] == 1_000_000


# ------------------------------------------------------ blocks source


@pytest.mark.parametrize("split_size", [4096, 65536, 1 << 22])
def test_blocks_source_parity(spark, fixture_path, split_size):
    """bamjvm.BlocksSource vs the Python bgzf_blocks format: identical
    block metadata rows (incl. the path column downstream QA pipelines
    open directly) for every split geometry."""
    from spark_bam_spark.bam.datasource import register as reg

    reg(spark)
    py = (spark.read.format("bgzf_blocks").option("split_size", split_size)
          .load(fixture_path))
    jv = jvmreader.read_blocks_jvm(spark, fixture_path, split_size=split_size)
    assert jv.schema == py.schema
    a = sorted(map(tuple, py.collect()))
    b = sorted(map(tuple, jv.collect()))
    assert a == b
    assert len(a) > 0


def test_blocks_source_directory_and_ranges(spark, fixture_path, tmp_path_factory):
    import shutil

    from spark_bam_spark.bam.datasource import register as reg

    d = tmp_path_factory.mktemp("blocks_dir")
    shutil.copy(fixture_path, d / "a.bam")
    shutil.copy(fixture_path, d / "b.bam")
    reg(spark)
    py = (spark.read.format("bgzf_blocks").option("split_size", 65536)
          .option("ranges", "0-100k").load(str(d)))
    jv = jvmreader.read_blocks_jvm(spark, str(d), split_size=65536, ranges="0-100k")
    a = sorted(map(tuple, py.collect()))
    b = sorted(map(tuple, jv.collect()))
    assert a == b
    n_one_file = spark.read.format("bgzf_blocks").load(fixture_path).count()
    assert 0 < len(a) < 2 * n_one_file  # ranges actually selective


def test_blocks_source_column_pruning(spark, fixture_path):
    df = jvmreader.read_blocks_jvm(spark, fixture_path).select("start", "compressed_size")
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
    must return identical full-width row sets for EVERY combination —
    the generalization of test_generated_fixture_parity's 4 fixed
    corners.  Env-gated: each example writes a BAM and runs two scans."""
    import hypothesis.strategies as st
    from hypothesis import given, settings

    from spark_bam_spark.bam.datasource import register as reg
    from spark_bam_spark.bam.writer import make_fixture

    reg(spark)
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
        py = _canon(
            spark.read.format("bam").option("split_size", split_size).load(path)
        ).collect()
        jv = _canon(jvmreader.read_bam_jvm(spark, path, split_size=split_size)).collect()
        assert py == jv
        assert len(jv) == n

    check()


def test_many_file_directory_parallel_planning(spark, tmp_path_factory):
    """Per-file planning runs on a thread pool for multi-file inputs
    (object-store latency hiding); the split list must stay in FILE
    ORDER and the row set byte-identical to the Python source.  12
    distinct files (different sizes/seeds) make ordering mistakes
    visible."""
    from spark_bam_spark.bam.datasource import register as reg
    from spark_bam_spark.bam.writer import make_fixture

    d = tmp_path_factory.mktemp("many_bams")
    total = 0
    for i in range(12):
        n = 50 + 40 * i
        make_fixture(str(d / f"f{i:02d}.bam"), n=n, block_payload=2048, seed=100 + i)
        total += n
    reg(spark)
    py = _canon(spark.read.format("bam").option("split_size", 4096).load(str(d))).collect()
    jv = _canon(jvmreader.read_bam_jvm(spark, str(d), split_size=4096)).collect()
    assert len(jv) == total
    assert py == jv
    # blocks source over the same directory: same parallel-planning path
    pyb = sorted(map(tuple, spark.read.format("bgzf_blocks")
                     .option("split_size", 4096).load(str(d)).collect()))
    jvb = sorted(map(tuple, jvmreader.read_blocks_jvm(spark, str(d), split_size=4096).collect()))
    assert pyb == jvb and len(jvb) > 12


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
