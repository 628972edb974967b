"""Regression tests for the round-1 ADVICE findings.

Each test pins the FIXED behavior:
1. BAI-present + filter(ref_idx == -1) must still return unplaced reads
   (the BAI indexes only placed records; pruning must disable itself).
2. Eager checker bounds match the reference exactly
   (PosChecker.scala:59: reject only pos > contig_length; no
   ref_idx==-1/pos!=-1 rejection).
3. check_record_start with an ``ensure`` window extender rejects
   presumptive records that extend past true EOF instead of accepting
   after a partial check.
4. SAM Z-tag values containing ':' survive parsing un-truncated.
5. BamWriter tolerates NULL row values and rejects bad cigar strings
   with a clear error.
"""

from __future__ import annotations

import pytest

from spark_bam_spark.bam.checker import HeaderInfo, check_record_start
from spark_bam_spark.bam.records import BamRecord
from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, write_bam
from tests.test_checker import _fake_record


def _unplaced_fixture(tmp_path, n_placed=30, n_unplaced=12):
    recs = []
    for i in range(n_placed):
        recs.append(
            BamRecord(
                qname=f"p{i:04d}", flag=0x1, ref_idx=i % 2, pos=1000 + 50 * i,
                mapq=30, cigar=[(0, 10)], mate_ref_idx=i % 2, mate_pos=2000 + 50 * i,
                tlen=100, seq="ACGTACGTAC", qual=bytes([30] * 10),
            )
        )
    for i in range(n_unplaced):
        recs.append(
            BamRecord(
                qname=f"u{i:04d}", flag=0x4 | 0x1, ref_idx=-1, pos=-1,
                mapq=0, cigar=[], mate_ref_idx=-1, mate_pos=-1,
                tlen=0, seq="ACGT", qual=bytes([30] * 4),
            )
        )
    path = str(tmp_path / "unplaced.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs, block_payload=512)
    return path


def test_bai_pushdown_keeps_unplaced_reads(spark, tmp_path):
    """ADVICE high: with a .bai sidecar present, filter(ref_idx == -1)
    must return the unplaced tail, not silently zero rows."""
    import os

    from spark_bam_spark.bam.reader import read_bam

    path = _unplaced_fixture(tmp_path)
    assert os.path.exists(path + ".bai")  # the sidecar that triggered the bug
    df = read_bam(spark, path, split_size=2048)
    got = df.filter(df.ref_idx == -1).count()
    assert got == 12
    # placed-ref pruning must still work alongside
    assert df.filter(df.ref_idx == 0).count() == 15


def test_bai_pushdown_out_of_dictionary_ref(spark, tmp_path):
    """A pushed ref beyond the BAI's reference count disables pruning
    rather than returning wrong (empty-by-pruning) results."""
    from spark_bam_spark.bam.reader import read_bam

    path = _unplaced_fixture(tmp_path)
    df = read_bam(spark, path, split_size=2048)
    assert df.filter(df.ref_idx == 99).count() == 0  # still correct: residual filter


class TestCheckerBoundsParity:
    HDR = HeaderInfo((10_000, 20_000))

    def test_pos_equal_to_contig_length_accepted(self):
        # reference rejects only pos > length (PosChecker.scala:59)
        buf = _fake_record(pos=10_000, mate_pos=5_000)
        assert check_record_start(buf, 0, self.HDR)

    def test_pos_one_past_contig_length_rejected(self):
        buf = _fake_record(pos=10_001, mate_pos=5_000)
        assert not check_record_start(buf, 0, self.HDR)

    def test_unplaced_idx_with_nonneg_pos_accepted(self):
        # the reference does NOT reject ref_idx==-1 && pos>=0
        buf = _fake_record(ref_idx=-1, pos=5, flag=0x4 | 0x1, n_cigar=0, l_seq=0,
                           cigar_ops=[], seq_qual=b"")
        assert check_record_start(buf, 0, self.HDR)

    def test_record_flags_too_large_pos_strict(self):
        from spark_bam_spark.bam.checker import record_flags

        at_limit = record_flags(_fake_record(pos=10_000), 0, self.HDR)
        assert not at_limit["too_large_read_pos"]
        past = record_flags(_fake_record(pos=10_001), 0, self.HDR)
        assert past["too_large_read_pos"]

    def test_record_flags_too_large_idx_no_pos_flag(self):
        # RefPosError tree: TooLargeRefIdx with pos >= -1 sets ONLY the idx flag
        from spark_bam_spark.bam.checker import record_flags

        flags = record_flags(_fake_record(ref_idx=7, pos=0), 0, self.HDR)
        assert flags["too_large_read_idx"] and not flags["too_large_read_pos"]


class TestWindowExtension:
    HDR = HeaderInfo((10_000,))

    def _garbage_overhang(self):
        """A record whose claimed block_size extends past the buffer: all
        in-window fixed-field checks pass, body is truncated."""
        import struct

        body = struct.pack(
            "<iiBBHHHiiii", 0, 5000, 3, 30, 0, 1, 0x1, 4, 0, 5200, 300
        ) + b"ab\x00"
        claimed = 200  # > actual remaining bytes
        return struct.pack("<i", claimed) + body

    def test_no_ensure_window_horizon_accepts(self):
        # fixed-window sweeps keep the historical benefit-of-the-doubt
        buf = self._garbage_overhang()
        assert check_record_start(buf, 0, self.HDR)

    def test_ensure_at_true_eof_rejects(self):
        buf = bytearray(self._garbage_overhang())
        assert not check_record_start(buf, 0, self.HDR, ensure=lambda n: None)

    def test_ensure_extension_then_valid(self):
        """When ensure CAN extend the window to cover the record, the
        verdict is computed on the full bytes."""
        import struct

        full = bytearray()
        for _ in range(3):
            full += _fake_record(pos=5000)
        window = bytearray(full[:40])  # mid-record horizon

        def ensure(n: int) -> None:
            while len(window) < n and len(window) < len(full):
                window.extend(full[len(window) : min(n, len(full))])

        assert check_record_start(window, 0, self.HDR, reads_to_check=3, ensure=ensure)
        # a truncated *last* record (bad file) is rejected through the same path
        cut = bytearray(full[:-10])
        win2 = bytearray(cut[:40])

        def ensure2(n: int) -> None:
            if len(win2) < n:
                win2.extend(cut[len(win2) : n])

        assert not check_record_start(win2, 0, self.HDR, reads_to_check=3, ensure=ensure2)


def test_sam_tag_value_with_colons(spark, tmp_path):
    """ADVICE: Z-tag values containing ':' must not be truncated."""
    from spark_bam_spark.bam.sam import load_sam, write_sam

    rec = BamRecord(
        qname="r1", flag=0x1, ref_idx=0, pos=100, mapq=30, cigar=[(0, 4)],
        mate_ref_idx=0, mate_pos=200, tlen=50, seq="ACGT", qual=bytes([30] * 4),
        tags={"UR": "https://example.org/ref.fa", "PG": "bwa:0.7.17:index"},
    )
    path = str(tmp_path / "tags.sam")
    write_sam(path, CONTIG_NAMES, CONTIG_LENGTHS, [rec])
    row = load_sam(spark, path).select("tags").first()
    assert row.tags["UR"] == "https://example.org/ref.fa"
    assert row.tags["PG"] == "bwa:0.7.17:index"


def test_bam_writer_null_tolerance(spark, tmp_path):
    """ADVICE: NULL mapq/mate_*/tlen/qual values must not crash the sink."""
    from spark_bam_spark.bam.reader import read_bam, write_bam_df

    rows = [
        ("r1", 1, "1", 100, None, "4M", None, None, None, "ACGT", None, None),
        ("r2", 4, None, -1, 0, None, -1, -1, 0, "AC", "!!", None),
    ]
    df = spark.createDataFrame(
        rows,
        "qname string, flag int, rname string, pos long, mapq int, cigar string, "
        "mate_ref_idx int, mate_pos long, tlen int, seq string, qual string, "
        "tags map<string,string>",
    )
    out = str(tmp_path / "out_bam")
    contigs = ",".join(f"{n}:{l}" for n, l in zip(CONTIG_NAMES, CONTIG_LENGTHS))
    write_bam_df(df.repartition(1), out, contigs=contigs)
    back = read_bam(spark, out)
    assert back.count() == 2
    r1 = back.filter(back.qname == "r1").first()
    assert r1.mapq == 0 and r1.mate_ref_idx == -1 and r1.tlen == 0


def test_bam_writer_bad_cigar_clear_error(spark, tmp_path):
    from spark_bam_spark.bam.reader import write_bam_df

    contigs = ",".join(f"{n}:{l}" for n, l in zip(CONTIG_NAMES, CONTIG_LENGTHS))
    for i, cigar in enumerate(("4Q", "M4")):
        df = spark.createDataFrame([("r", "1", 1, cigar, "ACGT")],
                                   "qname string, rname string, pos long, cigar string, seq string")
        with pytest.raises(Exception, match="invalid cigar"):
            write_bam_df(df, str(tmp_path / f"bad{i}"), contigs=contigs)


def test_classifier_score_empty_document_contract(spark, tmp_path):
    """ADVICE r3 (datapipe.py): a zero-token document must not diverge the
    engines — DuckDB's list_aggregate over an empty list yields NULL where
    Spark's 0-initialized aggregate yields 0. Both sides now COALESCE the
    sum and NULLIF the token count, so an empty/whitespace-only text row
    keeps the oracle hash stable."""
    import duckdb

    from spark_bam_spark.queries import REGISTRY, load_all
    from tests.oracle import _keyed_rows

    load_all()
    spec = REGISTRY["classifier_linear_score"]
    docs = spark.createDataFrame(
        [(1, "en", "src", "hello world"), (2, "en", "src", ""), (3, "de", "src", "   ")],
        ["doc_id", "lang", "source", "text"],
    )
    sf = str(tmp_path / "sf_empty")
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    df = spec.fn(spark, sf)
    s_rows = [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    res = con.sql(spec.oracle)
    d_cols, d_rows = list(res.columns), res.fetchall()
    con.close()

    assert sorted(df.columns) == sorted(d_cols)
    assert _keyed_rows(df.columns, s_rows) == _keyed_rows(d_cols, d_rows)
    # the all-empty 'de' group: 0 raw_total, NULL mean (not a crash / NaN)
    de = {r["lang"]: r for r in df.collect()}["de"]
    assert de["raw_total"] == 0 and de["mean_score"] is None
