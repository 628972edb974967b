"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE
JSON line with total + per-query seconds."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_bam_spark.queries import load_all
from spark_bam_spark.session import get_spark


def _bam_reader() -> str:
    try:
        from spark_bam_spark.bam.reader import reader_choice

        return reader_choice()
    except Exception:
        return "unknown"


def _machine_load() -> dict:
    """Snapshot of machine contention so cross-round bench deltas are
    interpretable: numbers taken while another Spark session runs on the
    same box are inflated up to 2x (VERIFICATION_r7.md §Bench), and without
    this record a real regression and a contended run look identical
    (r7 verdict, What's wrong #1)."""
    try:
        la1, la5, la15 = os.getloadavg()
    except OSError:
        la1 = la5 = la15 = -1.0
    # count OTHER live python processes that look like Spark/JVM workers;
    # /proc is the only portable-enough source without psutil.  Our own
    # session's JVM + pyspark.daemon worker pool are descendants of this
    # process — walk ppid chains so they don't count as contention.
    own_pid = os.getpid()

    def _ppid(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                # field 4 is ppid; comm (field 2) may contain spaces, so
                # split after the closing paren
                return int(fh.read().rsplit(b")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            return 0

    def _is_descendant(pid: int) -> bool:
        for _ in range(32):  # bounded walk; init has ppid 0
            if pid == own_pid:
                return True
            if pid <= 1:
                return False
            pid = _ppid(pid)
        return False

    spark_procs = 0
    java_procs = 0
    try:
        for pid_s in os.listdir("/proc"):
            if not pid_s.isdigit():
                continue
            pid = int(pid_s)
            if pid == own_pid or _is_descendant(pid):
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
            except OSError:
                continue
            # match only live Spark execution machinery (worker daemons /
            # JVMs), not arbitrary processes whose argv mentions spark —
            # the orchestration harness quotes this repo's name in its
            # own command line
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                spark_procs += 1
            elif "java" in cmd and "org.apache.spark" in cmd:
                java_procs += 1
    except OSError:
        spark_procs = java_procs = -1
    return {
        "loadavg_1m": round(la1, 2),
        "loadavg_5m": round(la5, 2),
        "loadavg_15m": round(la15, 2),
        "other_pyspark_procs": spark_procs,
        "other_spark_jvms": java_procs,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    registry = load_all()
    # tier 1: the original 11 headline queries (round-over-round comparable);
    # tier 2: the LLM-pipeline surface (dedup/curation/text/semdedup)
    headline = {n: s for n, s in sorted(registry.items()) if s.headline}
    headline2 = {n: s for n, s in sorted(registry.items()) if s.headline2}

    spark = get_spark("spark_bam_spark-bench")
    # warm the JVM + parquet footers once so timings measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # warm whole-stage codegen per query at the smallest SF so the timed
    # runs measure data-proportional work, not first-run JIT compilation.
    # Two passes: the Python-worker queries also need their executor-side
    # worker pool (fork + numpy/pyarrow import x cores) fully spun up, which
    # one pass doesn't finish — measured ramp 12.9s/4.8s/2.4s/2.2s for the
    # 1M-record scan.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for _ in range(2):
            for spec in list(headline.values()) + list(headline2.values()):
                try:
                    spec.fn(spark, warm_dir).collect()
                except Exception:
                    pass

    # min-of-N (default 5): per-query variance at min-of-2 was ±30% —
    # larger than any real round-over-round delta; override with
    # SPARK_GRAFT_BENCH_REPEAT
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "5")))

    load_before = _machine_load()

    def run_tier(tier: dict) -> tuple[dict[str, float], dict[str, float]]:
        best_t: dict[str, float] = {}
        med_t: dict[str, float] = {}
        for name, spec in tier.items():
            samples: list[float] = []
            for _ in range(repeat):
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
            best_t[name] = round(min(samples), 4)
            med_t[name] = round(statistics.median(samples), 4)
        return best_t, med_t

    timings, med = run_tier(headline)
    timings2, med2 = run_tier(headline2)
    load_after = _machine_load()

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                # metric/value keep the round-1 definition (tier-1 total) so
                # BENCH_r*.json stays comparable across rounds; tier 2 rides
                # along with its own total and per-query numbers
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": {**timings, **timings2},
                "headline2_total": round(sum(timings2.values()), 4),
                "headline2_queries": sorted(timings2),
                # median-of-repeats per query: with min-of-N, contention
                # shows up as a median >> min gap; a real regression moves
                # both together
                "queries_median": {**med, **med2},
                "machine_load_before": load_before,
                "machine_load_after": load_after,
                # which BAM implementation the bam_* rows executed (the
                # JVM DSv2 reader is the only one)
                "bam_reader": _bam_reader(),
                "repeat": repeat,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
