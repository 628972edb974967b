"""``bam/reader.py`` runs every BAM read and write on the bamjvm
DataSourceV2; nothing selects another implementation.  Plus the
hardening that shipped with the JVM reader: per-file contig-dictionary
resolution for pushdown pruning, split locality hints,
applicationId-keyed session wiring, and the corrupt-record-layout
salvage boundary — each checked against the pure-Python decoder where
rows are compared.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam, write_bam_df
from tests.bam_oracle import oracle_rows, scan_rows

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)


@pytest.fixture(scope="module")
def fixture_path() -> str:
    from spark_bam_spark.queries.bam_qa import _fixture_path

    return _fixture_path()


# ------------------------------------------------------- one implementation


def test_python_selectors_are_gone(spark, fixture_path, tmp_path, monkeypatch):
    """The environment variables and the ``reader``/``writer`` arguments
    that once selected the Python Data Source select nothing: the scan is
    still planned on bamjvm, the write still goes through the bamjvm
    sink, and the arguments are unknown."""
    for side in ("READER", "WRITER"):
        monkeypatch.setenv("SPARK_GRAFT_BAM_" + side, "py")
    df = read_bam(spark, fixture_path, split_size=65536)
    assert "bamjvm" in df._jdf.queryExecution().executedPlan().toString()

    formats = []
    real_format = DataFrameWriter.format
    monkeypatch.setattr(
        DataFrameWriter, "format", lambda self, f: formats.append(f) or real_format(self, f)
    )
    out = str(tmp_path / "out")
    write_bam_df(df.limit(50), out, contigs="1:249250621,2:243199373,3:198022430")
    assert formats == [jvmreader.FORMAT]
    assert read_bam(spark, out).count() == 50

    with pytest.raises(TypeError):
        read_bam(spark, fixture_path, **{"reader": "py"})
    with pytest.raises(TypeError):
        write_bam_df(df, out, **{"writer": "py"})


def test_no_jdk_compiler_raises(spark, fixture_path, tmp_path, monkeypatch):
    """Without a JDK compiler (and no jar built yet) reads and writes
    raise jar_path's error; nothing falls back."""
    monkeypatch.setattr(jvmreader, "javac_path", lambda: None)
    monkeypatch.setattr(jvmreader, "_CACHE_DIR", str(tmp_path / "jar_cache"))
    monkeypatch.setattr(jvmreader, "_WIRED", set())
    with pytest.raises(RuntimeError, match="javac not found"):
        read_bam(spark, fixture_path)
    df = spark.createDataFrame([("q",)], "qname string")
    with pytest.raises(RuntimeError, match="javac not found"):
        write_bam_df(df, str(tmp_path / "out"))


def test_default_path_is_jvm(spark, fixture_path):
    df = read_bam(spark, fixture_path, split_size=65536)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bamjvm" in plan
    assert df.count() == 2500


def test_dispatch_paths_row_identical(spark, fixture_path):
    """The scan's rows at a 16 KiB split size equal the pure-Python
    decoder's."""
    cols = ["qname", "flag", "rname", "pos", "block_pos", "offset"]
    got = scan_rows(read_bam(spark, fixture_path, split_size=16384), cols)
    assert got == oracle_rows(fixture_path, cols)


def test_columns_prune_on_jvm_path(spark, fixture_path):
    """The dispatcher's `columns` arg must reach the JVM scan as a pruned
    readSchema (Catalyst SupportsPushDownRequiredColumns), not a
    post-scan projection of the full width."""
    df = read_bam(spark, fixture_path, columns="pos,rname")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = next(line for line in plan.splitlines() if "BatchScan" in line)
    assert "qual" not in scan_line and "tags" not in scan_line
    assert df.columns == ["pos", "rname"]


# ------------------------------------------------- session wiring (ADD JAR)


def test_ensure_session_keys_on_application_id(spark):
    """_WIRED keys on applicationId (unique per context, never reused in
    a process) — not id(spark), whose value a garbage-collected session
    could donate to a NEW session on a NEW context, silently skipping
    ADD JAR."""
    jvmreader.ensure_session(spark)
    app_id = spark.sparkContext.applicationId
    assert app_id in jvmreader._WIRED
    # a cloned session shares the context (same app id): already wired
    clone = spark.newSession()
    jvmreader.ensure_session(clone)
    assert clone.sparkContext.applicationId == app_id
    # ADD JAR is idempotent: a cleared cache re-issues without error and
    # the source still resolves
    jvmreader._WIRED.discard(app_id)
    jvmreader.ensure_session(spark)
    assert app_id in jvmreader._WIRED


# ------------------------------------------------------- locality hints


def test_preferred_locations_populated(spark, fixture_path):
    """BamSplit.preferredLocations (the reference's
    SplitRDD.getPreferredLocations, check/.../spark/SplitRDD.scala:27-30)
    must surface the filesystem's block hosts — 'localhost' on the local
    FS; empty would mean the hint is lost and every 100 TB scan task
    schedules rack-remote.  Asserted on the scan RDD that Spark plans."""
    from tests.test_split_planner import scan_rdd

    rdd = scan_rdd(read_bam(spark, fixture_path, split_size=65536))
    hosts = [rdd.preferredLocations(p).mkString(",") for p in rdd.partitions()]
    assert len(hosts) >= 2
    assert all(h == "localhost" for h in hosts), hosts


# ------------------------------- per-file contig dictionary resolution


@pytest.fixture(scope="module")
def mixed_dict_dir(tmp_path_factory) -> str:
    """Directory of two BAMs with DIVERGENT reference dictionaries (plus
    index sidecars): pruning must resolve pushed contig names against
    each file's own header, not the first file's."""
    from spark_bam_spark.bam.writer import synth_records, write_bam

    d = tmp_path_factory.mktemp("mixed_dicts")
    recs = synth_records(400, seed=5)
    write_bam(str(d / "a.bam"), ["1", "2", "3"], [2_000_000_000] * 3, recs, block_payload=2048)
    write_bam(
        str(d / "b.bam"), ["chrX", "chrY", "chrM"], [2_000_000_000] * 3, recs,
        block_payload=2048,
    )
    return str(d)


def test_pushdown_resolves_contigs_per_file(spark, mixed_dict_dir):
    """rname='chrY' exists only in b.bam's dictionary.  Resolving names
    against the FIRST file's header (the pre-r9 behavior) finds no index
    for 'chrY' (or worse, prunes b.bam's blocks by a.bam's mapping) and
    silently drops rows; per-file resolution returns exactly b.bam's
    ref_idx=1 records."""
    df = read_bam(spark, mixed_dict_dir, split_size=4096)
    got = df.filter(F.col("rname") == "chrY").count()
    # ground truth: both files carry the same synth records, so b.bam's
    # ref_idx=1 rows = half the directory's ref_idx=1 rows
    n_ref1_total = df.filter(F.col("ref_idx") == 1).count()
    assert got == n_ref1_total // 2
    assert got > 0, "vacuous: fixture has no ref_idx=1 records"


def test_pushdown_mixed_dicts_cross_file_filter(spark, mixed_dict_dir):
    """A filter naming one contig from EACH dictionary must return both
    files' matching rows — union-of-resolutions per file."""
    df = read_bam(spark, mixed_dict_dir, split_size=4096)
    got = df.filter(F.col("rname").isin("1", "chrX")).count()
    n_ref0_total = df.filter(F.col("ref_idx") == 0).count()
    assert got == n_ref0_total
    assert got > 0


def test_pushdown_unknown_contig_everywhere(spark, mixed_dict_dir):
    """A name in NO file's dictionary matches nothing (rname is null or
    a dictionary name) — zero rows, no error, and pruning may skip
    everything."""
    df = read_bam(spark, mixed_dict_dir, split_size=4096)
    assert df.filter(F.col("rname") == "chr99").count() == 0


@pytest.fixture(scope="module")
def permuted_dict_dir(tmp_path_factory) -> str:
    """THE advice-r8 scenario: two files whose dictionaries contain the
    SAME names at DIFFERENT indices.  Resolving 'rname=3' via the first
    file's header gives ref_idx 2; applying that index to b.bam's zone
    map / BAI (where '3' is ref_idx 0) prunes exactly the blocks that
    hold b.bam's matching rows — silent row loss, the worst failure
    class for pruning."""
    from spark_bam_spark.bam.writer import synth_records, write_bam

    d = tmp_path_factory.mktemp("permuted_dicts")
    recs = synth_records(400, seed=6)
    write_bam(str(d / "a.bam"), ["1", "2", "3"], [2_000_000_000] * 3, recs, block_payload=2048)
    write_bam(str(d / "b.bam"), ["3", "2", "1"], [2_000_000_000] * 3, recs, block_payload=2048)
    return str(d)


def test_pushdown_permuted_dictionaries(spark, permuted_dict_dir):
    """rname='3' is ref_idx 2 in a.bam but ref_idx 0 in b.bam: per-file
    resolution must return BOTH files' '3'-rows.  (Pre-r9, the first
    file's mapping pruned b.bam's '3' blocks away.)"""
    df = read_bam(spark, permuted_dict_dir, split_size=4096)
    n_pruned_path = df.filter(F.col("rname") == "3").count()
    # ground truth without any pushdown-prunable predicate: count by
    # qname membership of ref-idx groups per file is overkill — each
    # file holds the same records, so '3'-rows = a.bam's ref_idx=2 rows
    # + b.bam's ref_idx=0 rows = (ref2_total + ref0_total) / 2
    n_ref0 = df.filter(F.col("ref_idx") == 0).count()
    n_ref2 = df.filter(F.col("ref_idx") == 2).count()
    assert n_pruned_path == (n_ref0 + n_ref2) // 2
    assert n_pruned_path > 0


# --------------------------------------- corrupt-record salvage parity


@pytest.fixture(scope="module")
def corrupt_layout_bam(tmp_path_factory) -> tuple[str, int]:
    """A BAM whose 700th record has a WILD l_seq (huge, but block_size
    intact): the walk's block_size>=32 check passes, so only the layout
    validation stands between the decoder and out-of-bounds garbage."""
    from spark_bam_spark.bam.bgzf import EOF_BLOCK, compress_block
    from spark_bam_spark.bam.records import encode_record
    from spark_bam_spark.bam.writer import encode_header, synth_records

    recs = synth_records(1000, seed=9)
    stream = bytearray(encode_header(["1", "2", "3"], [2_000_000_000] * 3))
    bad_at = None
    for i, r in enumerate(recs):
        enc = bytearray(encode_record(r))
        if i == 700:
            bad_at = len(stream)
            enc[20:24] = (1 << 28).to_bytes(4, "little")  # l_seq := 256M
        stream += enc
    out = bytearray()
    for ustart in range(0, len(stream), 4096):
        out += compress_block(bytes(stream[ustart : ustart + 4096]))
    out += EOF_BLOCK
    path = str(tmp_path_factory.mktemp("corrupt_layout") / "bad.bam")
    with open(path, "wb") as f:
        f.write(out)
    return path, 700


def test_permissive_corrupt_layout_salvage(spark, corrupt_layout_bam):
    """Permissive mode serves the records BEFORE the corrupt one (per
    affected range) and never crashes the task; failfast raises.  The
    layout check runs in the JVM walker (RecordWalker.step)."""
    path, bad_idx = corrupt_layout_bam
    # single split: the salvage boundary is exactly the corrupt record
    df = read_bam(spark, path, split_size=1 << 26, mode="permissive")
    rows = df.select("qname", "pos").orderBy("qname").collect()
    assert len(rows) == bad_idx
    with pytest.raises(Exception):
        read_bam(spark, path, split_size=1 << 26).count()


def test_permissive_corrupt_layout_cross_reader_parity(spark, corrupt_layout_bam):
    """Over many splits, permissive mode loses exactly the corrupt record
    and the rest of its split: every other row is served and equals the
    Python decoder's row for it."""
    from tests.bam_oracle import decode_file
    from tests.test_split_planner import scan_splits

    path, bad_idx = corrupt_layout_bam
    cols = ["qname", "flag", "rname", "pos", "block_pos", "offset"]
    df = read_bam(spark, path, split_size=8192, mode="permissive")
    splits = scan_splits(df)
    bad_pos = decode_file(path)[1][bad_idx][0]
    bad = (bad_pos.block_pos, bad_pos.offset)
    end = next(hi for _, lo, hi in splits if lo <= bad[0] < hi)
    assert end < splits[-1][2], "vacuous: the corrupt record is in the last split"
    want = [t for t in oracle_rows(path, cols) if (t[4], t[5]) < bad or t[4] >= end]
    assert scan_rows(df, cols) == want
    assert bad_idx < len(want) < 1000


def test_read_bam_rejects_bad_mode_and_jvm_py_option_mix(spark, fixture_path):
    """A bad mode is a ValueError; options of the removed Python source
    (batch_records) are unknown arguments."""
    with pytest.raises(ValueError, match="failfast|permissive"):
        read_bam(spark, fixture_path, mode="bogus")
    with pytest.raises(TypeError, match="batch_records"):
        read_bam(spark, fixture_path, batch_records=1024)
