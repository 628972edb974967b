"""S5 CRAM delegation: the reader decodes through pysam when available.

pysam is not installed in this environment, so the test ships a minimal
fake pysam module to driver + executors (addPyFile) and verifies the
whole mapInPandas plumbing — file-list parallelism, schema, row values —
end to end. The dispatch's NotImplementedError path (pysam absent) is
covered by test_sam.py::test_load_reads_dispatch_rejects_unknown.
"""

from __future__ import annotations

import sys
import textwrap

import pytest

from spark_bam_spark.bam.cram import load_cram
from spark_bam_spark.bam.reader import READS_FIELDS
from spark_bam_spark.bam.sam import load_reads

FAKE_PYSAM = textwrap.dedent(
    '''
    """Minimal stand-in for pysam's AlignmentFile (test fixture)."""

    class _Rec:
        def __init__(self, i):
            self.query_name = f"read{i}"
            self.flag = i
            self.reference_id = 0
            self.reference_start = 100 + i
            self.reference_end = 150 + i
            self.mapping_quality = 60
            self.cigarstring = "50M"
            self.cigartuples = [(0, 50)]
            self.next_reference_id = 0
            self.next_reference_start = 200 + i
            self.template_length = 150
            self.query_sequence = "A" * 50
            self.query_qualities = [30] * 50
        def get_tags(self):
            return [("NM", 0), ("RG", "grp1")]

    class AlignmentFile:
        def __init__(self, path, mode="rc", reference_filename=None, check_sq=True):
            self.path = path
        @property
        def references(self):
            return ["chr1"]
        def __iter__(self):
            return iter([_Rec(i) for i in range(3)])
    '''
)


@pytest.fixture()
def fake_pysam(spark, tmp_path):
    mod = tmp_path / "pysam.py"
    mod.write_text(FAKE_PYSAM)
    saved_path = list(sys.path)
    saved_mod = sys.modules.pop("pysam", None)
    sys.path.insert(0, str(tmp_path))
    spark.sparkContext.addPyFile(str(mod))
    try:
        yield
    finally:
        sys.path[:] = saved_path
        sys.modules.pop("pysam", None)
        if saved_mod is not None:
            sys.modules["pysam"] = saved_mod
        # addPyFile copies into the SparkFiles root, which stays on
        # sys.path for the session — remove the copy so later tests see
        # pysam as absent again
        import os

        from pyspark import SparkFiles

        copied = os.path.join(SparkFiles.getRootDirectory(), "pysam.py")
        if os.path.exists(copied):
            os.remove(copied)


def test_cram_delegates_to_pysam(spark, tmp_path, fake_pysam):
    f1 = tmp_path / "a.cram"
    f2 = tmp_path / "b.cram"
    f1.write_bytes(b"CRAM")
    f2.write_bytes(b"CRAM")

    df = load_cram(spark, str(tmp_path))  # directory → both files, one task each
    assert df.rdd.getNumPartitions() == 2
    assert [f.name for f in df.schema.fields] == [n for n, _ in READS_FIELDS]

    rows = sorted(df.collect(), key=lambda r: (r["qname"], r["flag"]))
    assert len(rows) == 6  # 3 fake records × 2 files
    r = rows[0]
    assert (r["qname"], r["flag"], r["rname"], r["pos"]) == ("read0", 0, "chr1", 100)
    assert r["end_pos"] == 150 and r["cigar"] == "50M" and r["n_cigar_ops"] == 1
    assert r["seq_len"] == 50 and r["qual"] == "?" * 50
    assert r["tags"] == {"NM": "0", "RG": "grp1"}
    assert r["block_pos"] is None and r["offset"] is None


def test_cram_single_file(spark, tmp_path, fake_pysam):
    f = tmp_path / "one.cram"
    f.write_bytes(b"CRAM")
    assert load_reads(spark, str(f)).count() == 3
