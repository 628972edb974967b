"""Loaders for the synthetic corpus (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under an sf dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# PLAN cache, not a result cache: spark.read.parquet pays ~165 ms of
# driver-side schema inference per call (measured r17, idle box), and a
# bench pass re-reads the same handful of tables dozens of times.  The
# cached object is a lazy DataFrame — every action against it still scans
# the parquet files; nothing is persisted or precomputed.  The value keeps the owning
# session so a recycled id() after GC, or a stopped-and-recreated session,
# can never serve a stale frame (identity check on hit).
_TABLE_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}

# r18 (VERDICT r17 #5): both driver-side memos are LRU-bounded.  Keys
# embed analyzed-plan STRINGS / sf dirs, so an unbounded dict is a slow
# driver leak in a long-lived multi-tenant session (guide §5 — the driver
# should hold no per-query state that grows without bound).  The caps are
# far above any single workload's working set (the full 226-query
# registry generates ~40 distinct fan_out keys per (session, core-count)
# pair), so eviction never fires on the bench or the driver — pinned by
# tests/test_plan_quality.py::test_memo_lru_bounded.
_MEMO_CAP = 1024


def _memo_put(memo: dict, key, value) -> None:
    """Insert with LRU eviction (dicts iterate in insertion order; a hit
    refresh re-inserts, so the first key is always the least recent)."""
    memo.pop(key, None)
    while len(memo) >= _MEMO_CAP:
        memo.pop(next(iter(memo)))
    memo[key] = value


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (id(spark), sf_dir, name)
    hit = _TABLE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        _memo_put(_TABLE_CACHE, key, hit)  # refresh LRU recency
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # TIMESTAMP(NANOS) columns surface as bigint under
    # spark.sql.legacy.parquet.nanosAsLong — convert to microsecond
    # timestamps (truncation matches DuckDB's ns→µs fetch behavior).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _memo_put(_TABLE_CACHE, key, (spark, df))
    return df


def _scan_row_groups(df: DataFrame, cap: int) -> tuple[int | None, int | None]:
    """(row_groups, rows): the ACTUAL parquet row-group count feeding
    ``df`` — the ground truth for scan parallelism that planned-split
    counts only proxy — when ``df`` is a narrow chain (project/filter)
    directly over a local parquet scan; (None, None) when that can't be
    established (post-shuffle frames, whose partitions are real
    regardless of the scan; joins; non-parquet sources; remote
    filesystems — though a WIDE remote layout, >= cap files, still
    returns cap by per-file inference).  ``rows`` is the exact row count
    from the same footers — fan_out's rows-derived spread target (r17) —
    and is only non-None when every input file was enumerated (the
    short-circuit / budget-exhaustion / remote paths return rows=None,
    so callers fall back to the full core-count spread).  Driver-side
    cost is bounded at 4*cap metadata-only footer reads (short-circuits
    as soon as ``cap`` row groups are found — the common case reads far
    fewer; each is the same footer Spark itself reads to plan the scan).
    """
    import re
    from urllib.parse import unquote, urlparse

    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return None, None
    for line in plan.splitlines():
        m = re.match(r"[\s:+*-]*([A-Za-z][A-Za-z0-9]*)", line)
        if m is None:
            continue
        # anything beyond project/filter/union/scan (Repartition, Join,
        # Aggregate, LogicalRDD, RelationV2, ...) means either the
        # partitioning is no longer the scan's or the source isn't a
        # plain parquet relation — row groups are not the bound there.
        # Union (r17) is narrow too: its parallelism is the sum of its
        # legs' scans.  inputFiles() dedups, so a union whose legs scan
        # the SAME file counts each footer once — an UNDERcount of both
        # row groups and rows, i.e. conservative for the `< target`
        # insurance decision and a floor for the rows-derived spread.
        if m.group(1) not in ("Project", "Filter", "Relation", "LogicalRelation", "Union"):
            return None, None
    try:
        files = df.inputFiles()
    except Exception:
        return None, None
    if not files:
        return None, None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None, None
    if any(urlparse(u).scheme not in ("", "file") for u in files[: 4 * cap]):
        # remote FS: footers aren't one local read away, so fall back to
        # the pre-r16 >=1-row-group-per-file inference for wide layouts
        # (a remote dir of >= cap files stays a pass-through candidate,
        # not an unconditional repartition) and to the planned-count
        # heuristic otherwise
        return (cap, None) if len(files) >= cap else (None, None)
    # Local files: footers are MEASURED in the multi-file case too —
    # inferring >=1 row group per file over-credits scans with empty
    # part files (r15 ADVICE #1).  Driver cost stays bounded: worst case
    # 4*cap metadata-only reads — short-circuit at cap row groups, and
    # give up (None => the generous 4x-planned heuristic) after 4*cap
    # footers, since reaching that without cap row groups means the
    # layout is mostly-empty parts, exactly where inference lies.
    total = 0
    rows = 0
    for n_read, uri in enumerate(files):
        if n_read >= 4 * cap:
            # budget exhausted with total < cap: 4*cap footers held fewer
            # than cap row groups, i.e. the layout is mostly empty part
            # files — exactly where the generous planned-count heuristic
            # over-credits.  Return the measured lower bound (< cap, so
            # the caller repartitions); the insurance cost of a spurious
            # narrow shuffle is already accepted elsewhere in fan_out
            # (r16 ADVICE #1).  rows is incomplete here — None, so the
            # spread stays at the full core count.
            return total, None
        try:
            meta = pq.ParquetFile(unquote(urlparse(uri).path)).metadata
        except Exception:
            return None, None
        total += meta.num_row_groups
        rows += meta.num_rows
        if total >= cap:
            # short-circuit: rg >= cap means the insurance won't fire on
            # the measured branch, so the (incomplete) row count is moot
            return cap, None
    return total, rows


# (session, analyzed-plan string, input files, target) -> spread partition
# count (0 = pass through).  Session object kept in the value for the same
# id()-reuse guard as _TABLE_CACHE.  LRU-bounded at _MEMO_CAP (see above).
# Staleness stance (r17 ADVICE #4, documented rather than keyed on
# mtimes): the memo assumes input files are IMMUTABLE within a session —
# overwriting a parquet file in place with a different row count would
# serve a stale rows-derived spread until the session restarts.  Every
# consumer in this repo reads fixture/tile dirs that are never rewritten
# mid-session; stat-ing every input file on each hit would re-add
# driver-side per-call I/O the memo exists to remove.
_FAN_OUT_MEMO: dict[tuple, tuple[SparkSession, int]] = {}

# Rows-per-task floor for the insurance spread (r17, guide §2: derive the
# partitioning from the input size, not a constant): spreading a measured
# N-row scan wider than ceil(N / 256) tasks is pure scheduling overhead —
# interleaved A/Bs at sf0.1 show the full core-count spread LOSING on
# every sub-8k-row benched scan (semdedup corpus 2.18k rows: fast -12%
# min / -25% med at 8 vs 32 partitions; documents 5k rows: funnel -11%,
# substring -12%, lsh -4% mins at 19 vs 32), while per-row work stays
# balanced (256 rows/task keeps the heaviest narrow operators — DECIMAL
# argmin folds, shingle explode + md5 — at millisecond-scale tasks).  At
# cluster scale any real scan measures rows >> 256 x cores, the floor
# saturates at the core count, and behavior is identical to pre-r17.
_FAN_OUT_MIN_ROWS_PER_TASK = 256


def fan_out(df: DataFrame, *keys: str, work_factor: float = 1.0) -> DataFrame:
    """Spread a scan that collapsed to fewer partitions than cores.

    ``work_factor`` (r17) scales the rows-derived floor for call sites
    whose per-row work is far above the engine's median narrow operator
    (e.g. several interpreted wide-DECIMAL folds per row, or a crossJoin
    that multiplies each row downstream): the floor becomes
    ``rows * work_factor // _FAN_OUT_MIN_ROWS_PER_TASK``, so such a site
    reaches the full core-count spread at proportionally fewer rows.  It
    never raises the spread above the core count and is part of the
    decision-memo key.

    With ``keys`` (r17): when the insurance fires, hash-distribute on the
    given columns instead of round-robin.  For an aggregation keyed the
    same way the exchange then FUSES with the aggregation's required
    distribution (ENSURE_REQUIREMENTS adds no second exchange — partial
    and final agg both run post-shuffle, parallel), so the serial scan
    stage does only the read + shuffle write.  This is the right
    insurance for LOW-combine-ratio aggregations, where serial map-side
    partial aggregation is the bottleneck and saves little shuffle
    volume: topk_revenue_orders (150k groups from 600k rows, ~4:1)
    measured 1.23 s serial-partial vs 0.76 s keyed vs 1.77 s round-robin
    (a one-off r17 micro-benchmark, interleaved min-of-7 — round-robin pays a
    SECOND exchange, which is why pricing_summary's earlier fan_out A/B
    lost).  HIGH-combine-ratio aggregations (pricing_summary: 6 groups)
    should keep serial partial agg and no fan_out at all.  On a cluster
    the scan has real splits, the wrapper passes through unchanged, and
    the planner's default partial-first shape — which shuffles the
    combined rows, fewer bytes — stands.

    The local fixtures are single-row-group parquet files, so Spark plans
    ONE input split and every narrow compute-heavy stage (explode, hash,
    per-row array math) runs serially. On a 1000-executor cluster the same
    scan has thousands of splits and this returns the input unchanged.
    Use before compute-dominated narrow stages only; for pure aggregations
    map-side partial aggregation beats shuffling full rows.

    Scan-shaped inputs are judged on MEASURED row groups, not planned
    splits (r14 found, r15 order #5 closed): a parquet byte-range split
    only owns the row groups whose midpoint lands in it, so planned-split
    count overstates real parallelism for few-row-group files — the r14
    100x campaign's ~107 MB single-file scan planned 13 splits but held 2
    row groups, ran 24 of 26 union tasks EMPTY, and put the whole n*K
    semdedup assignment on 2 straggler tasks.  Effective scan parallelism
    is bounded by BOTH planned splits (a task per split) and actual row
    groups (an unsplittable unit each): pass through only when
    min(planned, row_groups) >= cores.  The converse corner is real too —
    a small file with many row groups plans ONE split, so row groups
    alone don't clear it.

    When ownership can't be measured (post-shuffle frames — an Exchange's
    partitions are real; non-parquet sources; remote FS), the generous
    r14 heuristic stands: planned < 4x cores => repartition.  The
    insurance cost when the input was already balanced is one narrow
    shuffle of the rows — noise next to any stage this wrapper belongs in
    front of; on a real cluster planned splits >> 4x cores and the input
    passes through unchanged.

    r17: the DECISION is memoized per (session, analyzed plan, input
    files, target).  The checks behind it — optimizer run + parquet
    footer reads + a DataFrame→RDD conversion — cost ~150 ms of
    driver-side work per call (measured, idle box) and are pure functions
    of the plan and the on-disk layout, both captured in the key; repeat
    builds of the same query (every bench repetition, every re-used
    subtree) skip straight to the recorded verdict.  Nothing about the
    data is cached — only the spread partition count (0 = pass through)
    this exact scan shape needs.

    r17 (late): the spread target is ROWS-DERIVED when the footers were
    fully enumerated — min(cores, rows // _FAN_OUT_MIN_ROWS_PER_TASK),
    skipping the repartition entirely when that floor does not exceed
    the scan's own measured parallelism (see the constant's comment for
    the measured local evidence and the cluster-scale no-op argument).
    Unknown rows (post-shuffle, remote, short-circuited or
    budget-exhausted footer walks) keep the full core-count spread.
    """
    target = df.sparkSession.sparkContext.defaultParallelism

    def _spread(d: DataFrame, n: int) -> DataFrame:
        # explicit partition count in BOTH forms: the keyed exchange must
        # not be AQE-coalesced (a ~25 MB shuffle coalesces to ONE
        # partition at the default 64 MB advisory size, re-serializing
        # the downstream aggregation — the exact pathology this wrapper
        # exists to prevent)
        return d.repartition(n, *keys) if keys else d.repartition(n)

    try:
        key = (
            id(df.sparkSession),
            df._jdf.queryExecution().analyzed().toString(),
            tuple(df.inputFiles()),
            target,
            work_factor,
        )
    except Exception:
        key = None
    if key is not None:
        hit = _FAN_OUT_MEMO.get(key)
        if hit is not None and hit[0] is df.sparkSession:
            _memo_put(_FAN_OUT_MEMO, key, hit)  # refresh LRU recency
            return _spread(df, hit[1]) if hit[1] else df
    rg, rows = _scan_row_groups(df, target)
    if rg is not None:
        existing = min(rg, df.rdd.getNumPartitions())
        spread_to = target if existing < target else 0
        # rows-derived spread target (see _FAN_OUT_MIN_ROWS_PER_TASK):
        # never spread a MEASURED N-row scan wider than N // 256 tasks —
        # and when that floor does not exceed the scan's own measured
        # parallelism, the repartition buys nothing and is skipped
        # outright.  rows is only known when every footer was enumerated;
        # unknown rows (short-circuit / remote / exhausted budget) keep
        # the full core-count spread.
        if spread_to and rows is not None:
            spread_to = min(
                target,
                max(1, int(rows * work_factor) // _FAN_OUT_MIN_ROWS_PER_TASK),
            )
            if spread_to <= existing:
                spread_to = 0
    else:
        spread_to = target if df.rdd.getNumPartitions() < 4 * target else 0
    if key is not None:
        _memo_put(_FAN_OUT_MEMO, key, (df.sparkSession, spread_to))
    return _spread(df, spread_to) if spread_to else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the oracle's DuckDB views)."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
