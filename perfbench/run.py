"""Scan-layer benchmark for spark_bam_spark's BAM read/write path.

Runs one workload as a closed loop with one client against the program's
public API (``bam.reader.read_bam``, ``bam.reader.write_bam_df``,
``operators.qa``) on the default JVM DataSourceV2 reader and writer, on
``local[<cpus this process may use>]``, and checks every operation's
output against ground truth generated from ``--seed``.

    python3 perfbench/run.py --workload scan_full --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload rewrite_indexed --smoke   # tiny inputs, seconds

Workloads: scan_full and rewrite_indexed (see perfbench/workloads.py and
BENCHMARK.json).  A traced run also probes the check-bam pipeline.  The last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything else goes to stderr, and a detail file (samples, machine load,
input sizes; the span dump in traced runs) lands under ``.perfbench/``.

Exit codes: 0 all checks passed, 1 a check failed (the result line is
still printed), 2 the program or a JDK is missing (nothing printed).
Generated inputs, the compiled reader jar, Spark scratch space and temp
files all stay under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import statistics
import sys
import tempfile
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WATCHDOG_S = 170  # a run must end within 180 s
MIN_OPS = 3  # timed operations per run even when one outlasts --seconds

E2E_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "work_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_frac": "fraction",
}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "bam.jvmreader.ensure_session_s": "s",
    "bam.reader.read_bam_s": "s",
    "plan.pre_job_s": "s",
    "plan.post_job_s": "s",
    "jobs.per_op": "count",
    "bamjvm.scan.tasks": "count",
    "bamjvm.scan.task_busy_s": "s",
    "bamjvm.scan.task_cpu_s": "s",
    "bamjvm.scan.task_max_over_median": "ratio",
    "bamjvm.scan.sched_wait_s": "s",
    "pushdown.rows_read_per_row_returned": "ratio",
    "operators.qa.calls.task_busy_s": "s",
    "operators.qa.blocks.task_busy_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "bamjvm.write.task_busy_s": "s",
    "bamjvm.write.bytes_out": "B",
    "bamjvm.write.bytes_out_per_byte_in": "ratio",
    "exec.gc_s": "s",
    "tasks.failed": "count",
    "bam.bgzf.inflate_mb_per_s": "MB/s",
    "bam.vectorcheck.sweep_positions_per_s": "1/s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _set_env(trace: bool, cpus: int) -> None:
    """Pin the session to this machine's cores and keep every file Spark,
    the JVM and Python write inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_WAREHOUSE": str(WORK / "warehouse"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM spark-submit runs first
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    # the default reader/writer dispatch, and the status UI only when traced
    for k in ("SPARK_GRAFT_BAM_READER", "SPARK_GRAFT_BAM_WRITER", "SPARK_MASTER", "SPARK_GRAFT_UI"):
        os.environ.pop(k, None)
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"
    tempfile.tempdir = None  # re-read TMPDIR


def _watchdog() -> threading.Timer:
    def fire() -> None:
        import procs

        log(f"watchdog: run exceeded {WATCHDOG_S} s, killing the process tree")
        procs.reap(timeout=0)
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()
    return t


def _attempt(wl, ctx, i: int, op_id: str, traced: bool) -> dict:
    """Run one operation; an exception counts as a failed operation."""
    with ctx.tracer.operation(op_id, traced):
        t0, p0 = time.time(), time.perf_counter()
        try:
            ok, info = wl.op(ctx, i)
        except Exception:  # a failed operation must not end the run
            traceback.print_exc()
            ok, info = False, {}
        p1, t1 = time.perf_counter(), time.time()
    if not ok:
        log(f"{op_id} FAILED")
    return {"id": op_id, "traced": traced, "dur": p1 - p0, "t0": t0, "t1": t1, "ok": ok, "info": info}


def _session(tracer, trace: bool, app: str):
    from spark_bam_spark.bam import jvmreader
    from spark_bam_spark.session import get_spark

    tracer.active, tracer.op_id = trace, "setup"
    with tracer.span("session.get_spark"):
        spark = get_spark(app)
    with tracer.span("bam.jvmreader.ensure_session"):
        jvmreader.ensure_session(spark)
    tracer.active, tracer.op_id = False, None
    return spark


def run(args, wl, inp) -> tuple[dict, dict]:
    """Set up, warm up, measure.  Returns (result line, detail record)."""
    import procs
    import tracing
    import workloads

    tracer = tracing.Tracer()
    with procs.RssSampler() as rss:
        t_setup = time.perf_counter()
        spark = _session(tracer, bool(args.trace), f"perfbench-{wl.name}")
        try:
            if args.trace:
                tracer.sc = spark.sparkContext
            ctx = workloads.Ctx(spark, inp, tracer, str(WORK), args.seed)
            samples = [_attempt(wl, ctx, i, f"warmup{i}", False) for i in range(wl.warmup)]
            setup_s = time.perf_counter() - t_setup

            measured: list[dict] = []
            t_start = time.perf_counter()
            while len(measured) < MIN_OPS or time.perf_counter() - t_start < args.seconds:
                i = len(measured)
                measured.append(_attempt(wl, ctx, wl.warmup + i, f"op{i}", bool(args.trace) and i % 2 == 1))
            window = time.perf_counter() - t_start
            samples += measured
            layers, probe_oks = _layers(wl, ctx, tracer, measured) if args.trace else ({}, [])
        finally:
            procs.stop_spark(spark)

    attempted = len(samples) + len(probe_oks)
    failed = sum(not s["ok"] for s in samples) + probe_oks.count(False)
    timed = [s["dur"] for s in measured if not s["traced"]]
    work = sum(s["info"].get("work", 0) for s in measured if s["ok"])
    e2e = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(timed),
        "work_per_s": work / window,
        "peak_rss_mb": rss.peak_mb,
        "ok_frac": (attempted - failed) / attempted,
    }
    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": e2e,
        "per_layer": layers,
        "measured_ops": len(timed),
        "window_s": window,
        "op_s": [s["dur"] for s in measured],
        "warmup_op_s": [s["dur"] for s in samples[: wl.warmup]],
        "spans_recorded": len(tracer.spans),
    }
    if args.trace:
        spans_path = WORK / "traces" / f"{wl.name}-seed{args.seed}.json"
        spans_path.parent.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(spans_path), {"workload": wl.name, "seed": args.seed,
                                      "ops": [{k: s[k] for k in ("id", "traced", "dur", "t0", "t1", "ok")} for s in measured]})
        detail["span_dump"] = str(spans_path)
    return result, detail


def _layers(wl, ctx, tracer, measured: list[dict]) -> tuple[dict, list[bool]]:
    """Per-layer metrics of a traced run (tracing.layer_metrics) plus the
    session spans, the tracing overhead and the probes of the layers the
    timed workloads do not run: the check-bam pipeline (``operators.qa``)
    and the Python kernels it calls, over the mid-size file.  Returns
    (metrics, whether each probe check-bam sweep agreed with the truth)."""
    import tracing
    import workloads

    status = tracing.SparkStatus(ctx.spark.sparkContext)
    traced = [s for s in measured if s["traced"] and s["ok"]]
    untraced = [s["dur"] for s in measured if not s["traced"]]
    out = tracing.layer_metrics(status, tracer, traced, wl.job_kinds)
    for name in ("session.get_spark", "bam.jvmreader.ensure_session"):
        out[f"{name}_s"] = sum(s["end"] - s["start"] for s in tracer.spans_of("setup", name))
    out["trace.overhead_s"] = statistics.median(s["dur"] for s in traced) - statistics.median(untraced)
    src_bytes = ctx.inputs.truth["short"]["compressed_bytes"]
    out["bamjvm.write.bytes_out_per_byte_in"] = out["bamjvm.write.bytes_out"] / src_bytes
    mid = ctx.inputs.path("mid")
    out.update(workloads.kernel_probes(mid))
    out["operators.qa.blocks.task_busy_s"] = workloads.blocks_probe(ctx, status, mid)
    out["operators.qa.calls.task_busy_s"], oks = workloads.qa_probe(ctx, status)
    return out, oks


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["scan_full", "rewrite_indexed"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs and one warm-up operation")
    args = p.parse_args(argv)

    if not (ROOT / "spark_bam_spark" / "__init__.py").is_file():
        log(f"program sources not found under {ROOT}; run from a repository checkout")
        return 2
    cpus = len(os.sched_getaffinity(0))
    _set_env(bool(args.trace), cpus)
    sys.path[:0] = [str(ROOT), str(HERE)]
    import inputs
    import procs
    import workloads
    from spark_bam_spark.bam import jvmreader, reader

    wl = workloads.WORKLOADS[args.workload]
    if args.smoke:
        wl = dataclasses.replace(wl, warmup=1)
    load_before = procs.machine_load()

    t0 = time.perf_counter()
    try:
        jar = jvmreader.jar_path()  # the build: compiled once per source hash
    except RuntimeError as e:
        log(f"cannot build the JVM reader: {e}")
        return 2
    build_s = time.perf_counter() - t0
    if (reader.reader_choice(), reader.writer_choice()) != ("jvm", "jvm"):
        log("the default BAM reader/writer is not the JVM DataSourceV2 one")
        return 2

    # the traced run also probes operators.qa over the mid-size file
    files = list(wl.files) + (["mid"] if args.trace else [])
    inp = inputs.ensure(str(WORK), args.seed, files, "smoke" if args.smoke else "full")
    log(f"{wl.name} seed={args.seed} cpus={cpus} jar={os.path.basename(jar)} build_s={build_s:.2f} "
        f"inputs={inp.root} generated_s={inp.gen_s:.2f}")

    watchdog = _watchdog()
    steal0, total0 = procs.cpu_jiffies()
    try:
        result, detail = run(args, wl, inp)
    finally:
        killed = procs.reap()
        watchdog.cancel()
    steal1, total1 = procs.cpu_jiffies()
    load_after = procs.machine_load()
    load_after["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    detail.update({"cpus": cpus, "build_s": build_s, "generate_s": inp.gen_s, "load_before": load_before,
                   "load_after": load_after, "killed_after_stop": sorted(killed),
                   "inputs": inp.truth})
    out = WORK / "results" / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(detail, indent=1))
    e2e = detail["end_to_end"]
    log(f"{wl.name}: {detail['measured_ops']} timed ops in {detail['window_s']:.1f} s, "
        f"p50 {e2e['op_s_p50']:.4f} s, records/s {e2e['work_per_s']:.1f}, "
        f"setup {e2e['setup_s']:.2f} s, rss {e2e['peak_rss_mb']:.0f} MB, failed {result['failed']}/{result['attempted']}")
    log(f"load before {load_before} after {load_after}; detail {out}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
