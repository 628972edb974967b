"""Default split planning (bamjvm.SplitPlanner).  With no ``split_size``
the reads scan, the blocks scan and the stream's micro-batches plan
whole waves of the session's ``defaultParallelism``: N splits (a multiple
of it, none over 64 MiB, none under 1 MiB), shared out across files in
proportion to size and cut into equal byte ranges per file.  An explicit
``split_size`` keeps its fixed stride.
"""

from __future__ import annotations

import math
import os
import re

import pytest

from spark_bam_spark.bam import jvmreader
from spark_bam_spark.bam.records import encode_record
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, synth_records, write_bam

pytestmark = pytest.mark.skipif(
    jvmreader.javac_path() is None, reason="no JDK compiler on this machine"
)

MiB = 1 << 20
_SPLIT = re.compile(r"Split\((\S+) \[(\d+), (\d+)\)\)")


def scan_rdd(df):
    """The DataSourceRDD under a plain scan DataFrame."""
    rdd = df._jdf.queryExecution().toRdd()
    while rdd.getClass().getSimpleName() != "DataSourceRDD":
        rdd = rdd.dependencies().head().rdd()
    return rdd


def scan_splits(df) -> list[tuple[str, int, int]]:
    """(file name, start, end) of every planned split, in plan order."""
    out = []
    for p in scan_rdd(df).partitions():
        for m in _SPLIT.finditer(p.inputPartitions().mkString(";")):
            out.append((os.path.basename(m[1]), int(m[2]), int(m[3])))
    return out


def _write(path: str, size: int) -> None:
    """A valid BAM of at least ``size`` bytes.  Stored (level-0) BGZF
    blocks make the file size track the record bytes and keep the write
    cheap; planning never looks past the header."""
    recs = synth_records(500, seed=11)
    per_copy = sum(len(encode_record(r)) for r in recs)
    write_bam(
        path, CONTIG_NAMES, CONTIG_LENGTHS, recs * math.ceil(size / per_copy),
        sidecars=False, level=0,
    )


@pytest.fixture(scope="module")
def parallelism(spark) -> int:
    return spark.sparkContext.defaultParallelism


@pytest.fixture(scope="module")
def unequal_dir(tmp_path_factory, parallelism) -> str:
    """a.bam of 1.5 P MiB and b.bam of 0.5 P MiB: N = P for the pair."""
    d = tmp_path_factory.mktemp("unequal")
    _write(str(d / "a.bam"), 3 * parallelism * MiB // 2)
    _write(str(d / "b.bam"), parallelism * MiB // 2)
    return str(d)


def _assert_equal_ranges(splits, size):
    """Contiguous cover of [0, size) in ranges within one byte of equal."""
    assert splits[0][1] == 0 and splits[-1][2] == size
    assert all(a[2] == b[1] for a, b in zip(splits, splits[1:]))
    lens = [e - s for _, s, e in splits]
    assert max(lens) - min(lens) <= 1, lens


def test_single_file_plans_whole_waves(spark, unequal_dir, parallelism):
    path = os.path.join(unequal_dir, "a.bam")
    size = os.path.getsize(path)
    splits = scan_splits(jvmreader.read_bam_jvm(spark, path))
    assert len(splits) == parallelism  # 1.5 MiB per split: one wave
    _assert_equal_ranges(splits, size)
    assert scan_splits(jvmreader.read_blocks_jvm(spark, path)) == splits
    # an explicit split_size keeps its fixed stride
    fixed = scan_splits(jvmreader.read_bam_jvm(spark, path, split_size=MiB))
    assert [(s, e) for _, s, e in fixed] == [
        (s, min(s + MiB, size)) for s in range(0, size, MiB)
    ]


def test_directory_apportions_splits_by_size(spark, unequal_dir, parallelism):
    splits = scan_splits(jvmreader.read_bam_jvm(spark, unequal_dir))
    sizes = {n: os.path.getsize(os.path.join(unequal_dir, n)) for n in ("a.bam", "b.bam")}
    total = sum(sizes.values())
    per_file = {n: [sp for sp in splits if sp[0] == n] for n in sizes}
    for name, size in sizes.items():
        assert abs(len(per_file[name]) - parallelism * size / total) < 1, per_file
        _assert_equal_ranges(per_file[name], size)
    assert scan_splits(jvmreader.read_blocks_jvm(spark, unequal_dir)) == splits


def test_file_under_one_mib_plans_one_split(spark):
    from spark_bam_spark.queries.bam_qa import _fixture_path

    path = _fixture_path()
    assert os.path.getsize(path) < MiB
    assert scan_splits(jvmreader.read_bam_jvm(spark, path)) == [
        (os.path.basename(path), 0, os.path.getsize(path))
    ]
    assert len(scan_splits(jvmreader.read_blocks_jvm(spark, path))) == 1


def test_stream_micro_batch_plans_by_the_same_rule(spark, unequal_dir, parallelism, tmp_path):
    import shutil

    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(os.path.join(unequal_dir, "a.bam"), land / "a.bam")
    planned = []
    q = (
        jvmreader.read_bam_stream(spark, str(land))
        .select("qname")
        .writeStream.foreachBatch(lambda df, _id: planned.append(scan_splits(df)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(planned) == 1 and len(planned[0]) == parallelism
    assert planned[0] == scan_splits(jvmreader.read_bam_jvm(spark, str(land)))
