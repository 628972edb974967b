"""The Structured Streaming BAM source (bamjvm.BamMicroBatchStream):
micro-batches ingest the .bam files that appeared since the last batch,
planned through the same splitter/pushdown/reader as the batch scan.

r11: offsets are a monotonic batch id backed by a checkpointed
file-metadata log (the FileStreamSource design) — the checkpointed
offset is O(1) no matter how many files the stream has ever seen, and
restarts rebuild the seen set by replaying the log.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam, read_bam_stream
from spark_bam_spark.bam.writer import make_fixture

_HAS_JDK = jvmreader.javac_path() is not None

needs_jdk = pytest.mark.skipif(not _HAS_JDK, reason="no JDK compiler on this machine")


def _drain(spark, land: str, ckpt: str, out: str, **opts) -> None:
    q = (
        read_bam_stream(spark, land, **opts)
        .select("qname", "flag", "rname", "pos")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


@needs_jdk
def test_stream_drains_existing_files_then_only_new_ones(spark, tmp_path):
    """First availableNow drain ingests every file already present;
    a second drain with the SAME checkpoint ingests ONLY the file that
    landed in between (the seen-file offset contract)."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=500, block_payload=4096, seed=1)
    make_fixture(os.path.join(land, "b.bam"), n=300, block_payload=4096, seed=2)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, split_size=16384)
    assert spark.read.parquet(out).count() == 800
    make_fixture(os.path.join(land, "c.bam"), n=200, block_payload=4096, seed=3)
    _drain(spark, land, ckpt, out, split_size=16384)
    assert spark.read.parquet(out).count() == 1000  # +200, not +1000


@needs_jdk
def test_stream_rows_match_batch_scan(spark, tmp_path):
    """A drained stream is row-identical to a batch read of the same
    directory (same planner, same decoder)."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=400, block_payload=2048, seed=7)
    make_fixture(os.path.join(land, "b.bam"), n=250, block_payload=4096, seed=8)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, split_size=8192)
    got = sorted(
        map(tuple, spark.read.parquet(out).select("qname", "flag", "rname", "pos").collect())
    )
    want = sorted(
        map(tuple, read_bam(spark, land).select("qname", "flag", "rname", "pos").collect())
    )
    assert got == want


@needs_jdk
def test_stream_ingest_query_matches_truth(spark):
    from spark_bam_spark.queries import load_all

    rows = load_all()["bam_stream_ingest"].fn(spark, "/root/testdata/sf0.001").collect()
    assert sum(r["n_reads"] for r in rows) == 5000  # 2 copies x 2500


@needs_jdk
def test_offset_is_constant_size_and_log_replays_on_restart(spark, tmp_path):
    """The checkpointed offset is O(1) — a batch id, never the file list
    (the r10 name-set offset grew O(all files ever seen), quadratic
    diffing over a long-lived stream).  A second drain with the same
    checkpoint restores the seen set from the metadata log and ingests
    only the new arrivals, even across a many-file first batch."""
    import glob as _glob
    import json

    land = str(tmp_path / "landing")
    os.makedirs(land)
    n_files = 40
    for i in range(n_files):
        make_fixture(os.path.join(land, f"f{i:04d}.bam"), n=10, block_payload=4096, seed=i)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out)
    assert spark.read.parquet(out).count() == 10 * n_files
    # every checkpointed offset is a small {"batchId": N} JSON — no names
    offset_files = _glob.glob(os.path.join(ckpt, "offsets", "*"))
    assert offset_files
    for p in offset_files:
        with open(p) as f:
            payload = f.read()
        (line,) = [ln for ln in payload.splitlines() if "batchId" in ln]
        assert len(line) < 64
        assert ".bam" not in payload  # names live in the source's own log
        json.loads(line)  # well-formed
    # the source's own metadata log (under ckpt/sources/...) holds the
    # names; restart: only the new file is ingested
    logs = _glob.glob(os.path.join(ckpt, "sources", "**", "bam-file-log", "*"), recursive=True)
    assert logs, "expected the source's bam-file-log under the checkpoint"
    make_fixture(os.path.join(land, "late.bam"), n=25, block_payload=4096, seed=99)
    _drain(spark, land, ckpt, out)
    assert spark.read.parquet(out).count() == 10 * n_files + 25


@needs_jdk
def test_stream_ignores_inprogress_and_sidecar_files(spark, tmp_path):
    """Only *.bam files are ingested: writer temp files and sidecars in
    the landing dir are invisible to the stream."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=100, block_payload=4096, seed=4)
    # decoys: an in-progress writer temp and the generated sidecars
    with open(os.path.join(land, ".part-00001-7.bam.inprogress"), "wb") as f:
        f.write(b"torn")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out)
    assert spark.read.parquet(out).count() == 100


@needs_jdk
def test_log_compaction_folds_committed_batches(spark, tmp_path):
    """Every COMPACT_INTERVAL (10) committed batches the per-batch log
    entries fold into one .compact file (commit()'s API contract: Spark
    never again requests offsets <= the committed bound, so per-batch
    resolution below it is dead).  12 drains with one new file each →
    '10.compact' present, per-batch files 1..10 gone, 11..12 retained —
    and the incremental contract still holds across the compaction."""
    import glob as _glob

    land = str(tmp_path / "landing")
    os.makedirs(land)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    total = 0
    for i in range(12):
        make_fixture(os.path.join(land, f"b{i:02d}.bam"), n=10 + i, block_payload=4096, seed=i)
        total += 10 + i
        _drain(spark, land, ckpt, out)
        assert spark.read.parquet(out).count() == total  # only the new file each drain
    logs = sorted(
        os.path.basename(p)
        for p in _glob.glob(os.path.join(ckpt, "sources", "**", "bam-file-log", "*"), recursive=True)
    )
    assert "10.compact" in logs, logs
    assert [n for n in logs if n.isdigit() and int(n) <= 10] == [], logs
    assert {"11", "12"} <= set(logs), logs
    # the compact file carries all 10 folded names (one
    # "name\tmtime" line each), percent-decoded
    (compact_path,) = _glob.glob(
        os.path.join(ckpt, "sources", "**", "bam-file-log", "10.compact"), recursive=True
    )
    with open(compact_path) as f:
        names = {ln.split("\t")[0] for ln in f if ln.strip()}
    assert names == {f"b{i:02d}.bam" for i in range(10)}
    # restart AFTER compaction: seen restores from compact + per-batch tail
    make_fixture(os.path.join(land, "late.bam"), n=7, block_payload=4096, seed=99)
    _drain(spark, land, ckpt, out)
    assert spark.read.parquet(out).count() == total + 7


@needs_jdk
def test_max_file_age_ignores_old_files(spark, tmp_path):
    """max_file_age_ms (FileStreamSource's maxFileAge analogue): files
    older than the newest file minus the age are invisible to the
    stream — the long-running-ingest knob that also bounds the seen-map
    memory.  Default (no option) ingests everything regardless of
    age."""
    import time

    land = str(tmp_path / "landing")
    os.makedirs(land)
    old = os.path.join(land, "ancient.bam")
    make_fixture(old, n=100, block_payload=4096, seed=1)
    ten_days_ago = time.time() - 10 * 86400
    os.utime(old, (ten_days_ago, ten_days_ago))
    make_fixture(os.path.join(land, "fresh.bam"), n=40, block_payload=4096, seed=2)

    # aged stream: only the fresh file
    ckpt1, out1 = str(tmp_path / "c1"), str(tmp_path / "o1")
    _drain(spark, land, ckpt1, out1, max_file_age_ms=86_400_000)  # 1 day
    assert spark.read.parquet(out1).count() == 40

    # default stream over the same dir: both files
    ckpt2, out2 = str(tmp_path / "c2"), str(tmp_path / "o2")
    _drain(spark, land, ckpt2, out2)
    assert spark.read.parquet(out2).count() == 140

    # a new arrival after the aged drain is still picked up incrementally
    make_fixture(os.path.join(land, "later.bam"), n=7, block_payload=4096, seed=3)
    _drain(spark, land, ckpt1, out1, max_file_age_ms=86_400_000)
    assert spark.read.parquet(out1).count() == 47


@needs_jdk
def test_max_file_age_rejects_nonpositive(spark, tmp_path):
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=10, block_payload=4096, seed=1)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    with pytest.raises(Exception, match="max_file_age_ms must be positive"):
        _drain(spark, land, ckpt, out, max_file_age_ms=0)


@needs_jdk
def test_legacy_offset_format_fails_loudly(spark, tmp_path):
    """A checkpoint holding a pre-batch-id offset (the r10 name-set
    JSON, or any corrupt shape) must fail the restart with a clear
    error — a lenient parse would fabricate a garbage batch id and the
    stream would run forever while ingesting nothing (review r11)."""
    import glob as _glob

    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=20, block_payload=4096, seed=1)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out)
    # rewrite the committed offset to the legacy name-set shape
    (latest,) = sorted(_glob.glob(os.path.join(ckpt, "offsets", "*")))[-1:]
    with open(latest) as f:
        payload = f.read().splitlines()
    payload[-1] = '["a.bam"]'
    with open(latest, "w") as f:
        f.write("\n".join(payload))
    make_fixture(os.path.join(land, "b.bam"), n=5, block_payload=4096, seed=2)
    with pytest.raises(Exception, match="unrecognized offset|batchId"):
        _drain(spark, land, ckpt, out)


@needs_jdk
def test_max_files_per_batch_drains_backlog_in_capped_batches(spark, tmp_path):
    """max_files_per_batch (FileStreamSource's maxFilesPerTrigger
    analogue): a 40-file burst with cap 3 drains in ONE availableNow
    run as ceil(40/3)=14 individually-checkpointed micro-batches
    (SupportsTriggerAvailableNow snapshots the backlog at trigger time)
    — not one giant batch — with the metadata-log compaction riding
    along mid-drain (14 > COMPACT_INTERVAL) and the incremental
    contract intact afterwards."""
    import glob as _glob

    land = str(tmp_path / "landing")
    os.makedirs(land)
    n_files, cap = 40, 3
    for i in range(n_files):
        make_fixture(os.path.join(land, f"f{i:04d}.bam"), n=5 + i % 3, block_payload=4096, seed=i)
    total = sum(5 + i % 3 for i in range(n_files))
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, max_files_per_batch=cap)
    assert spark.read.parquet(out).count() == total
    # ceil(40/3) = 14 committed micro-batches, each its own offset file
    offsets = [
        p
        for p in _glob.glob(os.path.join(ckpt, "offsets", "*"))
        if os.path.basename(p).isdigit()
    ]
    assert len(offsets) == -(-n_files // cap), sorted(offsets)
    # per-batch file logs: compaction folded ids <= 10 mid-drain
    logs = sorted(
        os.path.basename(p)
        for p in _glob.glob(
            os.path.join(ckpt, "sources", "**", "bam-file-log", "*"), recursive=True
        )
    )
    assert "10.compact" in logs, logs
    assert [n for n in logs if n.isdigit() and int(n) <= 10] == [], logs
    # every planned batch carried <= cap files: replay each log entry
    compact = [p for p in _glob.glob(
        os.path.join(ckpt, "sources", "**", "bam-file-log", "*"), recursive=True
    ) if os.path.basename(p).isdigit()]
    for p in compact:
        with open(p) as f:
            assert sum(1 for ln in f if ln.strip()) <= cap, p
    # incremental contract after the capped drain: only the new file
    make_fixture(os.path.join(land, "late.bam"), n=9, block_payload=4096, seed=99)
    _drain(spark, land, ckpt, out, max_files_per_batch=cap)
    assert spark.read.parquet(out).count() == total + 9


@needs_jdk
def test_max_files_per_batch_rows_match_batch_scan(spark, tmp_path):
    """A capped drain is row-identical to an uncapped batch read of the
    same directory — the cap changes batch boundaries, never rows."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    for i in range(7):
        make_fixture(os.path.join(land, f"g{i}.bam"), n=30 + i, block_payload=2048, seed=i)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, max_files_per_batch=2, split_size=8192)
    got = sorted(
        map(tuple, spark.read.parquet(out).select("qname", "flag", "rname", "pos").collect())
    )
    want = sorted(
        map(tuple, read_bam(spark, land).select("qname", "flag", "rname", "pos").collect())
    )
    assert got == want


@needs_jdk
def test_max_files_per_batch_rejects_nonpositive(spark, tmp_path):
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=10, block_payload=4096, seed=1)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    with pytest.raises(Exception, match="max_files_per_batch must be positive"):
        _drain(spark, land, ckpt, out, max_files_per_batch=0)


@needs_jdk
def test_max_files_per_batch_rejects_non_numeric(spark, tmp_path):
    """A non-numeric cap fails with the option-named error, not a bare
    NumberFormatException (r12 ADVICE)."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=10, block_payload=4096, seed=1)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    with pytest.raises(Exception, match="max_files_per_batch must be a positive integer"):
        _drain(spark, land, ckpt, out, max_files_per_batch="three")
    with pytest.raises(Exception, match="max_file_age_ms must be a positive integer"):
        _drain(spark, land, ckpt, out, max_file_age_ms="soon")


@needs_jdk
def test_max_files_per_batch_caps_under_non_snapshot_trigger(spark, tmp_path):
    """The capped path WITHOUT the availableNow snapshot (listFresh per
    batch): Trigger.Once runs exactly one micro-batch and never calls
    prepareForTriggerAvailableNow, so with cap 2 over 5 landed files each
    Once run ingests the 2 oldest unseen files — 2, then 2, then 1."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    sizes = [5, 6, 7, 8, 9]
    for i, n in enumerate(sizes):
        p = os.path.join(land, f"f{i}.bam")
        make_fixture(p, n=n, block_payload=4096, seed=i)
        os.utime(p, (1000 + i, 1000 + i))  # strictly increasing mtimes
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def once():
        q = (
            read_bam_stream(spark, land, max_files_per_batch=2)
            .select("qname", "flag", "rname", "pos")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(180)

    once()
    assert spark.read.parquet(out).count() == sizes[0] + sizes[1]  # oldest 2
    once()
    assert spark.read.parquet(out).count() == sum(sizes[:4])
    once()
    assert spark.read.parquet(out).count() == sum(sizes)


def _jvm_stream(spark, land: str, ckpt: str, **opts):
    """Construct the JVM micro-batch stream directly (the same
    TableProvider -> ScanBuilder -> toMicroBatchStream path Spark's
    engine takes) so a test can drive latestOffset with an arbitrary
    Spark-side ReadLimit — the engine itself only passes the source's
    own getDefaultReadLimit back."""
    jvmreader.ensure_session(spark)
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    provider = jvm.bamjvm.BamDataSource()
    hm = jvm.java.util.HashMap()
    hm.put("path", land)
    for k, v in opts.items():
        hm.put(k, str(v))
    cism = jvm.org.apache.spark.sql.util.CaseInsensitiveStringMap(hm)
    schema = provider.inferSchema(cism)
    transforms = gw.new_array(jvm.org.apache.spark.sql.connector.expressions.Transform, 0)
    table = provider.getTable(schema, transforms, hm)
    scan = table.newScanBuilder(cism).build()
    return scan.toMicroBatchStream(ckpt), jvm, gw


def _batch_log_files(ckpt: str, batch_id: int) -> list[str]:
    with open(os.path.join(ckpt, "bam-file-log", str(batch_id))) as f:
        return [ln.split("\t")[0] for ln in f if ln.strip()]


def _land_five(land: str) -> None:
    os.makedirs(land)
    for i in range(5):
        p = os.path.join(land, f"f{i}.bam")
        make_fixture(p, n=5 + i, block_payload=4096, seed=i)
        os.utime(p, (1000 + i, 1000 + i))


@needs_jdk
def test_spark_side_read_limit_caps_batch_without_option(spark, tmp_path):
    """latestOffset(start, ReadLimit.maxFiles(N)) honors the Spark-side
    admission-control limit even when the max_files_per_batch option is
    NOT set (r12 verdict order #5): each capped call admits the N oldest
    unseen files; an allAvailable call then takes the rest."""
    land, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _land_five(land)
    mbs, jvm, _ = _jvm_stream(spark, land, ckpt)
    RL = jvm.org.apache.spark.sql.connector.read.streaming.ReadLimit
    # without the option, the source's own default limit is allAvailable
    assert "All Available" in mbs.getDefaultReadLimit().toString()
    off = mbs.initialOffset()
    off = mbs.latestOffset(off, RL.maxFiles(2))
    assert _batch_log_files(ckpt, 1) == ["f0.bam", "f1.bam"]  # oldest 2
    off = mbs.latestOffset(off, RL.maxFiles(2))
    assert _batch_log_files(ckpt, 2) == ["f2.bam", "f3.bam"]
    off = mbs.latestOffset(off, RL.allAvailable())
    assert _batch_log_files(ckpt, 3) == ["f4.bam"]
    assert off.json() == '{"batchId":3}'


@needs_jdk
def test_max_bytes_per_batch_drains_in_byte_bounded_batches(spark, tmp_path):
    """max_bytes_per_batch (FileStreamSource's maxBytesPerTrigger
    analogue): an availableNow drain of 6 files under a budget of ~2
    files' bytes splits into batches whose byte sums never exceed the
    budget (strict, progress-guaranteed), oldest (mtime, name) first,
    with row totals intact."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    sizes = {}
    for i in range(6):
        p = os.path.join(land, f"f{i}.bam")
        make_fixture(p, n=40, block_payload=2048, seed=i)
        os.utime(p, (1000 + i, 1000 + i))
        sizes[f"f{i}.bam"] = os.path.getsize(p)
    budget = sizes["f0.bam"] + sizes["f1.bam"] + 10  # ~2 files per batch
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, max_bytes_per_batch=budget)
    assert spark.read.parquet(out).count() == 40 * 6
    # every committed batch's byte sum is within budget
    import glob as _glob

    logs = [
        p
        for p in _glob.glob(
            os.path.join(ckpt, "sources", "**", "bam-file-log", "*"), recursive=True
        )
        if os.path.basename(p).isdigit()
    ]
    assert len(logs) >= 3, logs  # 6 files / ~2 per batch
    for p in logs:
        with open(p) as f:
            names = [ln.split("\t")[0] for ln in f if ln.strip()]
        assert sum(sizes[n] for n in names) <= budget, (p, names)


@needs_jdk
def test_max_bytes_per_batch_oversize_file_rides_alone(spark, tmp_path):
    """Progress guarantee: a single file larger than the byte budget is
    still admitted — alone — instead of deadlocking the stream."""
    land = str(tmp_path / "landing")
    os.makedirs(land)
    big = os.path.join(land, "big.bam")
    make_fixture(big, n=400, block_payload=2048, seed=1)
    os.utime(big, (1000, 1000))
    small = os.path.join(land, "small.bam")
    make_fixture(small, n=20, block_payload=2048, seed=2)
    os.utime(small, (1001, 1001))
    budget = os.path.getsize(small) + 16  # smaller than big.bam
    assert os.path.getsize(big) > budget
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, max_bytes_per_batch=budget)
    assert spark.read.parquet(out).count() == 420
    # big.bam (oldest) rode alone in batch 1; small.bam followed
    assert _batch_log_files(os.path.join(_src_log_dir(ckpt)), 1) == ["big.bam"]
    assert _batch_log_files(os.path.join(_src_log_dir(ckpt)), 2) == ["small.bam"]


def _src_log_dir(ckpt: str) -> str:
    """The source's bam-file-log dir under a writeStream checkpoint."""
    import glob as _glob

    hits = _glob.glob(os.path.join(ckpt, "sources", "**", "bam-file-log"), recursive=True)
    assert hits, f"no bam-file-log under {ckpt}"
    return os.path.dirname(hits[0])


@needs_jdk
def test_spark_side_read_limit_max_bytes(spark, tmp_path):
    """latestOffset honors a Spark-side ReadLimit.maxBytes without the
    option, and min-composes it with the option when both are set."""
    land, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _land_five(land)
    sizes = {n: os.path.getsize(os.path.join(land, n)) for n in os.listdir(land)}
    mbs, jvm, gw = _jvm_stream(spark, land, ckpt)
    RL = jvm.org.apache.spark.sql.connector.read.streaming.ReadLimit
    off = mbs.initialOffset()
    two = sizes["f0.bam"] + sizes["f1.bam"] + 1
    off = mbs.latestOffset(off, RL.maxBytes(two))
    assert _batch_log_files(ckpt, 1) == ["f0.bam", "f1.bam"]
    off = mbs.latestOffset(off, RL.allAvailable())
    assert _batch_log_files(ckpt, 2) == ["f2.bam", "f3.bam", "f4.bam"]

    # min-composition: option bytes budget admits 2, Spark's files cap 1
    land2, ckpt2 = str(tmp_path / "landing2"), str(tmp_path / "ckpt2")
    _land_five(land2)
    mbs2, jvm2, _ = _jvm_stream(spark, land2, ckpt2, max_bytes_per_batch=two)
    RL2 = jvm2.org.apache.spark.sql.connector.read.streaming.ReadLimit
    assert "MaxBytes" in mbs2.getDefaultReadLimit().toString().replace(" ", "")\
        or "bytes" in mbs2.getDefaultReadLimit().toString().lower()
    off2 = mbs2.initialOffset()
    off2 = mbs2.latestOffset(off2, RL2.maxFiles(1))  # files cap binds
    assert _batch_log_files(ckpt2, 1) == ["f0.bam"]
    off2 = mbs2.latestOffset(off2, RL2.allAvailable())  # option budget binds
    assert len(_batch_log_files(ckpt2, 2)) <= 2


@needs_jdk
def test_admission_control_invariants_randomized(spark, tmp_path):
    """Randomized pin of the admission-control invariants across caps
    (seeded, 6 scenarios): batches drain OLDEST (mtime, name) first;
    every batch obeys both caps (bytes may overshoot only as a
    singleton); the union of batch logs equals the landed set exactly
    once.  Admission never parses content, so junk bytes suffice."""
    import random

    rng = random.Random(1307)
    for case in range(6):
        land = str(tmp_path / f"land{case}")
        ckpt = str(tmp_path / f"ckpt{case}")
        os.makedirs(land)
        n = rng.randint(3, 12)
        sizes = {}
        for i in range(n):
            name = f"f{i:03d}.bam"
            sz = rng.randint(10, 5000)
            with open(os.path.join(land, name), "wb") as f:
                f.write(b"\0" * sz)
            os.utime(os.path.join(land, name), (1000 + i, 1000 + i))
            sizes[name] = sz
        cap_files = rng.choice([0, 1, 2, 3])  # 0 = off
        cap_bytes = rng.choice([0, 1500, 4000, 8000])
        opts = {}
        if cap_files:
            opts["max_files_per_batch"] = cap_files
        if cap_bytes:
            opts["max_bytes_per_batch"] = cap_bytes
        mbs, _jvm_unused, _ = _jvm_stream(spark, land, ckpt, **opts)
        off = mbs.initialOffset()
        admitted: list[list[str]] = []
        for _ in range(n + 2):  # cap-files=1 needs n batches
            nxt = mbs.latestOffset(off, mbs.getDefaultReadLimit())
            if nxt.json() == off.json():
                break
            off = nxt
            admitted.append(_batch_log_files(ckpt, len(admitted) + 1))
        flat = [nm for batch in admitted for nm in batch]
        assert sorted(flat) == sorted(sizes), (case, opts)  # exactly once
        assert flat == sorted(sizes), (case, opts)  # oldest-first = name order here
        for batch in admitted:
            if cap_files:
                assert len(batch) <= cap_files, (case, opts, batch)
            if cap_bytes:
                total = sum(sizes[nm] for nm in batch)
                assert total <= cap_bytes or len(batch) == 1, (case, opts, batch)
        if not cap_files and not cap_bytes:
            assert len(admitted) == 1  # uncapped: one batch takes all


@needs_jdk
def test_max_bytes_per_batch_rejects_bad_values(spark, tmp_path):
    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=10, block_payload=4096, seed=1)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    with pytest.raises(Exception, match="max_bytes_per_batch must be positive"):
        _drain(spark, land, ckpt, out, max_bytes_per_batch=0)
    with pytest.raises(Exception, match="max_bytes_per_batch must be a positive integer"):
        _drain(spark, land, ckpt, out, max_bytes_per_batch="lots")


@needs_jdk
def test_read_bam_stream_dispatch(spark, tmp_path):
    """reader.read_bam_stream plans the JVM stream with its
    admission-control options; the argument that once selected the
    Python stream reader is unknown."""
    from spark_bam_spark.bam import reader as reader_mod

    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=25, block_payload=4096, seed=1)

    with pytest.raises(TypeError, match="reader"):
        reader_mod.read_bam_stream(spark, land, **{"reader": "py"})

    df = reader_mod.read_bam_stream(spark, land, max_files_per_batch=2)
    assert df.isStreaming
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    q = (
        df.select("qname", "flag", "rname", "pos")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert spark.read.parquet(out).count() == 25


@needs_jdk
def test_jvm_stream_matches_python_decoder(spark, tmp_path):
    """Differential oracle: a landing dir drained by the JVM streaming
    source yields exactly the rows the pure-Python decoder reads from
    its files."""
    from tests.bam_oracle import oracle_rows

    land = str(tmp_path / "landing")
    os.makedirs(land)
    make_fixture(os.path.join(land, "a.bam"), n=350, block_payload=2048, seed=11)
    make_fixture(os.path.join(land, "b.bam"), n=150, block_payload=4096, seed=12)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, land, ckpt, out, split_size=8192)
    cols = ["qname", "flag", "rname", "pos"]
    jv = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()), key=repr)
    assert jv == oracle_rows(land, cols)
    assert len(jv) == 500


@needs_jdk
def test_spark_side_read_limit_composes_min_with_option(spark, tmp_path):
    """When BOTH the option and a Spark-side limit are set the effective
    cap is their min; the option also surfaces as the source's
    getDefaultReadLimit (the DSv2 admission-control contract, so the
    engine echoes it back through latestOffset)."""
    land, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    _land_five(land)
    mbs, jvm, gw = _jvm_stream(spark, land, ckpt, max_files_per_batch=3)
    RL = jvm.org.apache.spark.sql.connector.read.streaming.ReadLimit
    assert "3" in mbs.getDefaultReadLimit().toString()  # MaxFiles: 3
    off = mbs.initialOffset()
    off = mbs.latestOffset(off, RL.maxFiles(2))  # min(3, 2) = 2
    assert _batch_log_files(ckpt, 1) == ["f0.bam", "f1.bam"]
    off = mbs.latestOffset(off, RL.maxFiles(10))  # min(3, 10) = 3
    assert _batch_log_files(ckpt, 2) == ["f2.bam", "f3.bam", "f4.bam"]
    # composite limits (e.g. availableNow wrapping): the maxFiles member
    # inside a CompositeReadLimit binds
    late = os.path.join(land, "late.bam")
    make_fixture(late, n=4, block_payload=4096, seed=9)
    os.utime(late, (1010, 1010))
    limits = gw.new_array(
        jvm.org.apache.spark.sql.connector.read.streaming.ReadLimit, 2
    )
    limits[0] = RL.maxFiles(1)
    limits[1] = RL.maxRows(10_000)
    off = mbs.latestOffset(off, RL.compositeLimit(limits))  # min(3, 1) = 1
    assert _batch_log_files(ckpt, 3) == ["late.bam"]
