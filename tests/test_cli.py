"""CLI surface (SURVEY §2.11 parity with the reference's Main.scala
subcommands): each command is the same pipeline the registry exposes, so
these tests only need to pin the wiring — flags parse, the command runs,
output lands where asked."""

from __future__ import annotations

import pytest

from spark_bam_spark import cli
from spark_bam_spark.queries.bam_qa import _fixture_path


@pytest.fixture(scope="module")
def bam_path():
    return _fixture_path()


def _run(spark, argv, capsys):
    args = cli.build_parser().parse_args(argv)
    cli.run(args, spark)
    return capsys.readouterr().out.strip().splitlines()


def test_check_bam_prints_confusion_rows(spark, bam_path, capsys):
    lines = _run(spark, ["check-bam", bam_path], capsys)
    assert lines[0] == "eager_call,oracle_call,n"
    # eager checker: zero false calls — only (True,True) and (False,False)
    verdicts = {tuple(ln.split(",")[:2]) for ln in lines[1:]}
    assert verdicts == {("True", "True"), ("False", "False")}


def test_count_reads(spark, bam_path, capsys):
    lines = _run(spark, ["count-reads", bam_path], capsys)
    assert lines == ["n_reads", "2500"]


def test_idxstats_shape(spark, bam_path, capsys):
    lines = _run(spark, ["idxstats", bam_path], capsys)
    assert lines[0] == "rname,mapped,unmapped"
    names = [ln.split(",")[0] for ln in lines[1:]]
    assert names == ["*", "1", "2", "3"]


def test_idxstats_index_path_matches_scan(spark, bam_path, tmp_path, capsys):
    """samtools semantics: idxstats serves from the BAI metadata
    pseudo-bin when every data file is indexed (O(index), no data scan)
    and falls back to the rname/flag scan otherwise (a missing index, or
    one older than its .bam) — both paths must print the same report."""
    import os
    import shutil

    from spark_bam_spark.bam.writer import make_fixture
    from spark_bam_spark.operators import qa

    assert qa.bai_sidecar_pairs(bam_path), "fixture should ship a .bai sidecar"
    idx_lines = _run(spark, ["idxstats", bam_path], capsys)

    noidx = str(tmp_path / "noindex.bam")
    shutil.copyfile(bam_path, noidx)
    assert qa.bai_sidecar_pairs(noidx) == []  # no sidecar -> scan fallback
    scan_lines = _run(spark, ["idxstats", noidx], capsys)
    assert idx_lines == scan_lines

    # another file's index, older than the .bam: stale -> scan fallback
    stale = str(tmp_path / "stale.bam")
    shutil.copyfile(bam_path, stale)
    make_fixture(str(tmp_path / "other.bam"), n=300)
    shutil.copyfile(str(tmp_path / "other.bam.bai"), stale + ".bai")
    t = os.stat(stale).st_mtime_ns - 60 * 10**9
    os.utime(stale + ".bai", ns=(t, t))
    assert qa.bai_sidecar_pairs(stale) == []
    assert _run(spark, ["idxstats", stale], capsys) == scan_lines


def test_idxstats_path_parity_on_flag_rich_fixture(spark, tmp_path, capsys):
    """The same index-vs-scan parity pin on the flag-RICH fixture
    (synth_flagstat_records: placed-but-unmapped reads, coordinate-less
    records, secondary/supplementary with pair bits) — the data where the
    no-coor/'*' classification the r12 fix touched (cli.run idxstats
    fallback) actually matters; qa2500's flags are only 0x1/0x4/0x10."""
    import shutil

    from spark_bam_spark.operators import qa
    from spark_bam_spark.queries.bam_qa import _flagstat_fixture_path

    bam = _flagstat_fixture_path()
    assert qa.bai_sidecar_pairs(bam), "flagstat fixture should ship a .bai sidecar"
    idx_lines = _run(spark, ["idxstats", bam], capsys)
    # the fixture genuinely exercises the corner: a '*' row exists and
    # carries every coordinate-less record, unmapped column
    star = [ln for ln in idx_lines if ln.startswith("*,")]
    assert star and star[0].split(",")[1] == "0", star

    noidx = str(tmp_path / "noindex_flagrich.bam")
    shutil.copyfile(bam, noidx)
    assert qa.bai_sidecar_pairs(noidx) == []
    scan_lines = _run(spark, ["idxstats", noidx], capsys)
    assert idx_lines == scan_lines


def test_compute_splits_csv_out(spark, bam_path, tmp_path, capsys):
    out = str(tmp_path / "splits")
    _run(spark, ["compute-splits", bam_path, "--split-size", "16384", "--out", out], capsys)
    found = spark.read.option("header", True).csv(out)
    assert found.count() > 0


def test_htsjdk_rewrite_range_roundtrip(spark, bam_path, tmp_path, capsys):
    out = str(tmp_path / "rewritten")
    _run(spark, ["htsjdk-rewrite", bam_path, "--out", out, "-r", "101-200"], capsys)
    from spark_bam_spark.cli import _reads

    assert _reads(spark, out, 65536).count() == 100


def test_print_limit_truncates_stdout(spark, bam_path, capsys):
    """VERDICT r3 item 3: the stdout report sink is bounded like the
    reference's --print-limit (docs/command-line.md:92-97); a truncation
    notice lands on stderr, not in the CSV."""
    args = cli.build_parser().parse_args(["blocks", bam_path, "--print-limit", "3"])
    cli.run(args, spark)
    captured = capsys.readouterr()
    lines = captured.out.strip().splitlines()
    assert len(lines) == 1 + 3  # header + limited rows
    assert "truncated at --print-limit 3" in captured.err


def test_stdout_csv_quotes_special_values(spark, capsys):
    """ADVICE r3: values containing commas/quotes/newlines must survive the
    stdout CSV path (csv.writer quoting), matching the --out writer."""
    import csv
    import io

    df = spark.createDataFrame(
        [("a,b", 'say "hi"', "line1\nline2"), ("plain", None, "x")],
        ["c1", "c2", "c3"],
    )
    cli._df_to_out(df, None)
    out = capsys.readouterr().out
    rows = list(csv.reader(io.StringIO(out)))
    assert rows[0] == ["c1", "c2", "c3"]
    assert ["a,b", 'say "hi"', "line1\nline2"] in rows
    assert ["plain", "", "x"] in rows


def test_list_queries_prints_registry(spark, capsys):
    lines = _run(spark, ["list-queries"], capsys)
    assert lines[0] == "name,tags,oracle,oracle_kind,headline,headline2"
    names = {ln.split(",")[0] for ln in lines[1:]}
    assert {"pricing_summary", "dedup_minhash_lsh", "curation_pipeline_funnel"} <= names
    kinds = {ln.split(",")[0]: ln.split(",")[3] for ln in lines[1:]}
    assert kinds["pricing_summary"] == "derived"
    # the golden class is retired — nothing should report it anymore
    assert "golden" not in kinds.values()
    assert kinds["bam_time_load"] == "invariant"


def test_list_queries_tag_filter(spark, capsys):
    lines = _run(spark, ["list-queries", "--tag", "tpch"], capsys)
    names = [ln.split(",")[0] for ln in lines[1:]]
    assert names and all(n.startswith("tpch_") for n in names)


def test_query_runs_any_registry_entry(spark, capsys):
    lines = _run(
        spark,
        ["query", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"],
        capsys,
    )
    assert lines[0].startswith("l_returnflag")
    assert len(lines) > 1


def test_query_unknown_name_errors(spark, capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        _run(spark, ["query", "no_such_query"], capsys)


def test_explain_prints_physical_plan(spark, capsys):
    lines = _run(
        spark,
        ["explain", "pricing_summary", "--sf-dir", "/root/testdata/sf0.001"],
        capsys,
    )
    text = "\n".join(lines)
    assert "Physical Plan" in text
    assert "HashAggregate" in text and "Scan parquet" in text


def test_reader_and_writer_flags_removed(bam_path):
    """There is one BAM reader and one writer, so the CLI has no switch
    between implementations."""
    for flag in ("--reader", "--writer"):
        with pytest.raises(SystemExit):
            cli.build_parser().parse_args([flag, "jvm", "count-reads", bam_path])


def test_flagstat_counters(spark, bam_path, capsys):
    """flagstat: one-pass flag-derived counters.  Fixture truths: every
    read is paired (0x1), unplaced reads carry 0x4|0x1 (mate-unmapped
    bit unset), placed reads are all mapped primaries."""
    lines = _run(spark, ["flagstat", bam_path], capsys)
    assert lines[0] == "metric,n"
    got = dict(ln.split(",") for ln in lines[1:])
    total = int(got["total"])
    assert total == 2500
    assert int(got["paired_in_sequencing"]) == 2500
    unmapped = 2500 - int(got["mapped"])
    assert 0 < unmapped < 200  # ~2% unplaced in the synth fixture
    assert int(got["secondary"]) == 0
    assert int(got["properly_paired"]) == 0  # fixture sets no 0x2
    # unplaced fixture reads have 0x8 unset, so no singletons
    assert int(got["singletons"]) == 0
    assert int(got["with_itself_and_mate_mapped"]) == int(got["mapped"])


def test_cli_without_jdk_fails_loudly(spark, bam_path, tmp_path, capsys, monkeypatch):
    """Without a JDK compiler (and no jar built yet) a BAM subcommand has
    no source to read through: it raises jar_path's error instead of
    falling back."""
    from spark_bam_spark.bam import jvmreader

    monkeypatch.setattr(jvmreader, "javac_path", lambda: None)
    monkeypatch.setattr(jvmreader, "_CACHE_DIR", str(tmp_path / "jar_cache"))
    monkeypatch.setattr(jvmreader, "_WIRED", set())
    with pytest.raises(RuntimeError, match="javac not found"):
        _run(spark, ["count-reads", bam_path], capsys)


def test_flagstat_excludes_secondary_from_paired_metrics(spark, tmp_path, capsys):
    """samtools excludes secondary/supplementary records from every
    paired-category counter (they count only under total/secondary/
    supplementary/mapped) — multi-mapping aligner output must not
    overcount pairs (review r11)."""
    from spark_bam_spark.bam.records import BamRecord
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES, write_bam

    def rec(i, flag):
        return BamRecord(qname=f"q{i}", flag=flag, ref_idx=0, pos=100 + i,
                         mapq=30, cigar=[(0, 4)], mate_ref_idx=0,
                         mate_pos=200 + i, tlen=100, seq="ACGT",
                         qual=bytes([30]) * 4, tags={})

    recs = [rec(0, 0x1 | 0x2 | 0x40),          # primary, proper pair, read1
            rec(1, 0x1 | 0x2 | 0x80),          # primary, proper pair, read2
            rec(2, 0x1 | 0x2 | 0x40 | 0x100),  # secondary copy of read1
            rec(3, 0x1 | 0x2 | 0x40 | 0x800)]  # supplementary copy
    path = str(tmp_path / "sec.bam")
    write_bam(path, CONTIG_NAMES, CONTIG_LENGTHS, recs)
    lines = _run(spark, ["flagstat", path], capsys)
    got = {k: int(v) for k, v in (ln.split(",") for ln in lines[1:])}
    assert got["total"] == 4
    assert got["secondary"] == 1 and got["supplementary"] == 1
    assert got["mapped"] == 4  # mapped includes sec/supp (samtools)
    assert got["paired_in_sequencing"] == 2  # primaries only
    assert got["read1"] == 1 and got["read2"] == 1
    assert got["properly_paired"] == 2
    assert got["with_itself_and_mate_mapped"] == 2


def test_write_rejects_zero_block_payload(spark, tmp_path):
    """block_payload=0 must fail fast in the writer (a streaming encoder
    would never flush)."""
    from pyspark.sql import Row
    from spark_bam_spark.bam.reader import write_bam_df
    from spark_bam_spark.bam.writer import CONTIG_LENGTHS, CONTIG_NAMES

    contigs = ",".join(f"{n}:{ln}" for n, ln in zip(CONTIG_NAMES, CONTIG_LENGTHS))
    df = spark.createDataFrame([Row(qname="x", rname="1", pos=1, seq="AC")]).coalesce(1)
    with pytest.raises(Exception, match="block_payload must be in"):
        write_bam_df(df, str(tmp_path / "z"), contigs=contigs, block_payload=0)


def test_flagstat_cli_matches_registry_query(spark, capsys):
    """CLI flagstat and the registry's bam_flagstat share one operator
    (operators/qa.flagstat_agg): the CLI's melted metric/n lines over
    the flag-rich fixture equal the registry query's wide row."""
    from spark_bam_spark.queries import load_all
    from spark_bam_spark.queries.bam_qa import _flagstat_fixture_path

    lines = _run(spark, ["flagstat", _flagstat_fixture_path()], capsys)
    assert lines[0] == "metric,n"
    cli_vals = {ln.split(",")[0]: int(ln.split(",")[1]) for ln in lines[1:]}
    (row,) = load_all()["bam_flagstat"].fn(spark, "/root/testdata/sf0.001").collect()
    assert cli_vals == {k: int(v) for k, v in row.asDict().items()}
    # the flag-rich fixture makes the primary-only exclusion observable
    assert cli_vals["secondary"] > 0 and cli_vals["supplementary"] > 0
    assert cli_vals["paired_in_sequencing"] < cli_vals["total"]
    assert cli_vals["singletons"] > 0 and cli_vals["mate_on_different_chr"] > 0
