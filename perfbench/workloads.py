"""The workloads.  Each is a closed loop with one client: ``op`` runs
one operation through the program's public API, checks its output against
the generator's truth, and returns (ok, info).  ``info["rows"]`` is the
number of records the operation needed (for the pushdown ratio) and
``info["work"]`` the records it completed (for ``work_per_s``)."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import inputs

# full-width aggregate: touches every column the reader decodes, so column
# pruning cannot skip seq, qual or tags; keys match inputs._truth
_SCAN_AGG = {
    "n": "count(*)",
    "flag": "sum(flag)",
    "ref_idx": "sum(ref_idx)",
    "rname_chars": "sum(length(rname))",
    "pos": "sum(pos)",
    "end_pos": "sum(end_pos)",
    "mapq": "sum(mapq)",
    "cigar_chars": "sum(length(cigar))",
    "n_cigar_ops": "sum(n_cigar_ops)",
    "mate_ref_idx": "sum(mate_ref_idx)",
    "mate_pos": "sum(mate_pos)",
    "tlen": "sum(tlen)",
    "seq_len": "sum(seq_len)",
    "bases_a": "sum(length(seq) - length(replace(seq, 'A', '')))",
    "qual_chars": "sum(length(qual))",
    "qual_max": "sum(length(qual) - length(replace(qual, 'I', '')))",
    "tags": "sum(size(tags))",
    "nm": "sum(cast(tags['NM'] as int))",
    "qname_chars": "sum(length(qname))",
    "block_pos": "sum(block_pos)",
    "offset": "sum(offset)",
}


def _mismatch(what: str, got, want) -> bool:
    if got != want:
        print(f"[perfbench] CHECK FAILED {what}: got {got!r}, want {want!r}", file=sys.stderr)
        return True
    return False


@dataclass
class Ctx:
    spark: object
    inputs: inputs.Inputs
    tracer: object
    work: str
    seed: int
    state: dict = field(default_factory=dict)


# ---------------------------------------------------------------- queries


def region_queries(seed: int, n: int = 1000) -> list[tuple[int, int, int]]:
    """Seeded (ref_idx, start, end) regions: mostly 10 kb, some 100 kb and
    1 Mb, a few whole contigs; starts skewed toward the hotspots."""
    rng = np.random.default_rng([inputs.GEN_VERSION, seed, 99])
    spots = inputs.hotspots(seed)
    lengths = np.array([ln for _n, ln in inputs.CONTIGS])
    out = []
    for _ in range(n):
        kind = rng.random()
        span = 10_000 if kind < 0.80 else 100_000 if kind < 0.92 else 1_000_000 if kind < 0.97 else None
        if span is None:
            ref = int(rng.integers(0, len(lengths)))
            out.append((ref, 0, int(lengths[ref])))
            continue
        if rng.random() < 0.6:
            ref, centre = spots[int(rng.integers(0, len(spots)))]
            start = int(centre + rng.normal(0, 2 * inputs.HOTSPOT_SD)) - span // 2
        else:
            ref = int(rng.choice(len(lengths), p=lengths / lengths.sum()))
            start = int(rng.integers(0, lengths[ref]))
        start = int(np.clip(start, 0, lengths[ref] - 1))
        out.append((ref, start, min(start + span, int(lengths[ref]))))
    return out


class RegionTruth:
    """Row count and position sum of [start, end) on a contig, from the
    generator's (ref_idx, pos) arrays via prefix sums."""

    def __init__(self, arrays: dict[str, np.ndarray]) -> None:
        self.by_ref = []
        for ref in range(len(inputs.CONTIGS)):
            pos = np.sort(arrays["pos"][arrays["ref_idx"] == ref])
            self.by_ref.append((pos, np.concatenate([[0], np.cumsum(pos)])))

    def __call__(self, ref: int, start: int, end: int) -> tuple[int, int]:
        pos, csum = self.by_ref[ref]
        a, b = np.searchsorted(pos, start), np.searchsorted(pos, end)
        return int(b - a), int(csum[b] - csum[a])


def _region_rows(ctx: Ctx, path: str, region: tuple[int, int, int]) -> list:
    from pyspark.sql import functions as F

    from spark_bam_spark.bam.reader import read_bam

    ref, start, end = region
    with ctx.tracer.span("bam.reader.read_bam"):
        df = read_bam(ctx.spark, path)
    q = df.filter((F.col("rname") == inputs.CONTIGS[ref][0]) & (F.col("pos") >= start) & (F.col("pos") < end))
    with ctx.tracer.span("spark.collect"):
        return q.select("pos").collect()


# ---------------------------------------------------------------- workloads


def _scan_full(ctx: Ctx, i: int) -> tuple[bool, dict]:
    from pyspark.sql import functions as F

    from spark_bam_spark.bam.reader import read_bam

    with ctx.tracer.span("bam.reader.read_bam"):
        df = read_bam(ctx.spark, ctx.inputs.dir("scan"))
    agg = df.groupBy(F.substring("qname", 1, 1).alias("file")).agg(
        *[F.expr(e).alias(k) for k, e in _SCAN_AGG.items()]
    )
    with ctx.tracer.span("spark.collect"):
        rows = {r["file"]: r.asDict() for r in agg.collect()}
    bad = False
    n = 0
    for name in ("short", "long"):
        truth = ctx.inputs.truth[name]
        got = rows.get(name[0], {})
        n += truth["n"]
        for k in _SCAN_AGG:
            bad |= _mismatch(f"scan_full {name}.{k}", got.get(k), truth[k])
    bad |= _mismatch("scan_full files", sorted(rows), ["l", "s"])
    return not bad, {"rows": n, "work": n}


def check_bam(ctx: Ctx, i: int) -> tuple[bool, dict]:
    """One check-bam sweep over every position of the mid-size file."""
    from spark_bam_spark.operators import qa

    path = ctx.inputs.path("mid")
    truth = ctx.inputs.truth["mid"]
    with ctx.tracer.span("operators.qa.calls"):
        calls = qa.calls(ctx.spark, path)
    with ctx.tracer.span("operators.qa.three_way_confusion"):
        conf = qa.three_way_confusion(calls)
    with ctx.tracer.span("spark.collect"):
        rows = conf.collect()
    tp = sum(r.n for r in rows if r.eager_call and r.oracle_call)
    fp = sum(r.n for r in rows if r.eager_call and not r.oracle_call)
    fn = sum(r.n for r in rows if not r.eager_call and r.oracle_call)
    total = sum(r.n for r in rows)
    bad = _mismatch("check_bam true positives", tp, truth["n"])
    bad |= _mismatch("check_bam false positives", fp, 0)
    bad |= _mismatch("check_bam false negatives", fn, 0)
    bad |= _mismatch("check_bam positions", total, truth["positions"])
    return not bad, {"rows": 0, "work": truth["positions"]}


def _rewrite_indexed(ctx: Ctx, i: int) -> tuple[bool, dict]:
    from pyspark.sql import functions as F

    from spark_bam_spark.bam.reader import read_bam, write_bam_df

    truth = ctx.inputs.truth["short"]
    out = os.path.join(ctx.work, "rewrite", f"op{i}")
    shutil.rmtree(out, ignore_errors=True)
    with ctx.tracer.span("bam.reader.read_bam"):
        src = read_bam(ctx.spark, ctx.inputs.path("short"))
    with ctx.tracer.span("bam.reader.write_bam_df"):
        write_bam_df(src.sortWithinPartitions("ref_idx", "pos"), out, contigs=inputs.CONTIG_SPEC, bai=True)
    with ctx.tracer.span("bam.reader.read_bam"):
        back = read_bam(ctx.spark, out)
    with ctx.tracer.span("spark.collect"):
        r = back.agg(F.count("*").alias("n"), F.sum("pos").alias("pos"), F.sum("seq_len").alias("seq_len")).collect()[0]
    if "queries" not in ctx.state:  # first (warm-up) operation
        ctx.state["queries"] = region_queries(ctx.seed)
        ctx.state["region_truth"] = RegionTruth(ctx.inputs.arrays("short"))
    queries = ctx.state["queries"]
    region = queries[i % len(queries)]
    rows = _region_rows(ctx, out, region)
    want = ctx.state["region_truth"](*region)
    parts = os.listdir(out)
    bams = [p for p in parts if p.endswith(".bam")]
    bad = _mismatch("rewrite_indexed rescan", (r.n, r.pos, r.seq_len), (truth["n"], truth["pos"], truth["seq_len"]))
    bad |= _mismatch(f"rewrite_indexed query {region}", (len(rows), sum(x.pos for x in rows)), want)
    bad |= _mismatch("rewrite_indexed bai per part", sorted(p + ".bai" for p in bams), sorted(p for p in parts if p.endswith(".bam.bai")))
    bytes_out = sum(os.path.getsize(os.path.join(out, p)) for p in parts if p.endswith((".bam", ".bai")))
    shutil.rmtree(out, ignore_errors=True)
    # rows the rescan and the region query needed (the write job is not a scan job)
    return not bad, {"rows": truth["n"] + want[0], "work": truth["n"], "bytes_out": bytes_out}


@dataclass(frozen=True)
class Workload:
    name: str
    op: Callable[[Ctx, int], tuple[bool, dict]]
    files: tuple[str, ...]  # generated inputs it needs
    warmup: int  # operations run before timing starts
    job_kinds: dict  # job description -> stage kind, see tracing.layer_metrics


_SCAN = {"spark.collect": "scan"}

# warm-up counts: the JIT keeps speeding operations up for about this many
# operations after session start
WORKLOADS = {
    w.name: w
    for w in [
        Workload("scan_full", _scan_full, ("short", "long"), 12, _SCAN),
        Workload("rewrite_indexed", _rewrite_indexed, ("short",), 8,
                 {**_SCAN, "bam.reader.write_bam_df": "write"}),
    ]
}


# ---------------------------------------------------------------- probes


def kernel_probes(path: str, n_blocks: int = 64, sweep_blocks: int = 8, window: int = 4) -> dict:
    """Single-threaded driver-side timings of the Python kernels the
    check-bam pipeline runs on its workers: BGZF inflate
    (``bgzf.block_stream``) and the vectorized checker sweep
    (``vectorcheck.sweep_calls``) over one ``window``-block lookahead per
    swept block, as ``operators.qa.calls`` does.  Median of three passes."""
    import time

    from spark_bam_spark.bam import bgzf
    from spark_bam_spark.bam.header import parse_header
    from spark_bam_spark.bam.vectorcheck import sweep_calls

    inflate, sweep = [], []
    for _ in range(3):
        with open(path, "rb") as f:
            info = parse_header(f).info()
            t0 = time.perf_counter()
            blocks = []
            for _meta, data in bgzf.block_stream(f, 0):
                blocks.append(data)
                if len(blocks) == n_blocks:
                    break
            inflate.append(sum(map(len, blocks)) / 2**20 / (time.perf_counter() - t0))
        positions, secs = 0, 0.0
        for j in range(1, min(1 + sweep_blocks, len(blocks))):
            flat = b"".join(blocks[j : j + window])
            t0 = time.perf_counter()
            sweep_calls(flat, len(blocks[j]), info)
            secs += time.perf_counter() - t0
            positions += len(blocks[j])
        sweep.append(positions / secs if secs else 0.0)
    return {
        "bam.bgzf.inflate_mb_per_s": statistics.median(inflate),
        "bam.vectorcheck.sweep_positions_per_s": statistics.median(sweep),
    }


def _busy_s(ctx: Ctx, status, group: str, fn: Callable):
    """Run ``fn`` with its Spark jobs tagged ``group``; returns (fn's result,
    summed executor run time of the jobs' stages)."""
    import tracing

    sc = ctx.spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return result, tracing.group_busy_s(status, group)


def blocks_probe(ctx: Ctx, status, path: str) -> float:
    """Executor busy time of the BGZF blocks table ``operators.qa.calls``
    plans over (``bam.reader.read_blocks``), median of three jobs."""
    from spark_bam_spark.bam.reader import read_blocks

    return statistics.median(
        _busy_s(ctx, status, f"probe-blocks{k}", lambda: read_blocks(ctx.spark, path).collect())[1] for k in range(3)
    )


def qa_probe(ctx: Ctx, status, sweeps: int = 2) -> tuple[float, list[bool]]:
    """Executor busy time of a check-bam sweep (``check_bam``), median of
    ``sweeps`` after one sweep that starts the Python workers.  Returns
    (busy seconds, whether each sweep agreed with the truth)."""
    busy, oks = [], []
    for k in range(sweeps + 1):
        (ok, _info), secs = _busy_s(ctx, status, f"probe-qa{k}", lambda: check_bam(ctx, k))
        oks.append(ok)
        if k:
            busy.append(secs)
    return statistics.median(busy), oks
