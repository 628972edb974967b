"""How the bamjvm scans and the write sink get the session's Hadoop conf.

The conf reaches tasks as one broadcast per reader or writer factory, so
a factory (which rides every task binary of its stage) stays small, and
every task still sees the session's conf, including settings made after
the session started.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.reader import read_bam, read_blocks, write_bam_df
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)

_CONTIGS = ",".join(f"{n}:{ln}" for n, ln in zip(CONTIG_NAMES, CONTIG_LENGTHS))


@pytest.fixture(scope="module")
def fixture_path() -> str:
    from spark_bam_spark.queries.bam_qa import _fixture_path

    return _fixture_path()


def _factory_bytes(df) -> int:
    """Java-serialized size of the reader factory of the plan's one scan."""
    jvm = df.sparkSession._jvm
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    assert scan.getClass().getSimpleName() == "BatchScanExec"
    buf = jvm.java.io.ByteArrayOutputStream()
    out = jvm.java.io.ObjectOutputStream(buf)
    out.writeObject(scan.readerFactory())
    out.close()
    return buf.size()


def test_reader_factories_do_not_carry_the_conf(spark, fixture_path):
    """The whole Hadoop conf serializes to ~110 KB; a factory holding
    only its schema and the broadcast handle is a few KB."""
    assert _factory_bytes(read_bam(spark, fixture_path)) < 16 * 1024
    assert _factory_bytes(read_blocks(spark, fixture_path)) < 16 * 1024


def _count_and_pos(df) -> tuple[int, int]:
    return tuple(df.agg(F.count(F.lit(1)), F.sum("pos")).first())


def test_conf_set_after_session_start_reaches_tasks(spark, fixture_path, tmp_path):
    """A viewfs:// mount exists only in the session's Hadoop conf, set
    after the session started; a task on a default conf could not
    resolve it.  Scans, the BAI-pruned scan, the blocks scan and the
    write through the mount match the same work on the local path."""
    src = tmp_path / "in"
    src.mkdir()
    shutil.copy(fixture_path, src / "a.bam")
    shutil.copy(fixture_path + ".bai", src / "a.bam.bai")
    table = "bamconf" + uuid.uuid4().hex[:8]
    # uncached, so a task builds its own ViewFileSystem from the conf it
    # was given instead of reusing the driver's (one JVM in local mode)
    settings = {
        f"fs.viewfs.mounttable.{table}.link./data": tmp_path.as_uri(),
        "fs.viewfs.impl.disable.cache": "true",
    }
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in settings.items():
        conf.set(k, v)
    try:
        local, view = str(src), f"viewfs://{table}/data/in"
        expect = _count_and_pos(read_bam(spark, local))
        assert expect[0] == 2500
        assert _count_and_pos(read_bam(spark, view)) == expect

        out = f"viewfs://{table}/data/out"
        write_bam_df(
            read_bam(spark, view).sortWithinPartitions("ref_idx", "pos"),
            out, contigs=_CONTIGS, bai=True,
        )
        assert list((tmp_path / "out").glob("part-*.bam.bai"))
        assert _count_and_pos(read_bam(spark, out)) == expect

        region = (F.col("rname") == "1") & (F.col("pos") >= 13000) & (F.col("pos") < 200_000)
        want = read_bam(spark, local).filter(region).count()
        assert want > 0
        full = read_bam(spark, view, split_size=16384)
        pruned = full.filter(region)
        assert pruned.count() == want
        assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()

        assert read_blocks(spark, view).count() == read_blocks(spark, local).count()
    finally:
        for k in settings:
            conf.unset(k)
