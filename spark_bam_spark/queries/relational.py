"""Relational operator coverage (SURVEY.md §2.2-2.8).

Each query re-expresses one operator family from the reference's inventory
over the synthetic corpus. Reference citations are in each docstring; the
Spark side is written DataFrame-first so Catalyst owns pushdown, join
selection, and agg placement.

Numeric policy: money/quantity aggregates are computed in DECIMAL(18,4)
(exact, order-independent) and cast to DOUBLE at the end so the Spark and
DuckDB results are bit-identical. Non-exact stats (stddev, interpolated
percentiles) are rounded to 4 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_bam_spark.queries import register
from spark_bam_spark.tables import fan_out, table


def dec(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,4)")


def dsum(c: str | Column) -> Column:
    """Exact, order-independent sum: DECIMAL accumulate, DOUBLE out."""
    return F.sum(dec(c)).cast("double")


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4: A1-A12)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    headline=True,
    tags=("agg", "A3", "A6"),
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style partial+final hash aggregation.

    Maps the reference's monoid reductions (A3 error-counts sum,
    cli/FullCheck.scala:147-164; A6 count, cli/CountReads.scala:36-58) onto
    a single declarative groupBy — Catalyst plans a map-side partial agg.
    """
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ltz"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        # round the exact decimal to scale 4 before the double cast: a
        # scale-8 decimal near a double rounding boundary casts differently
        # across engines (DuckDB's hugeint/10^8 double-rounds); at scale 4
        # the scaled integer is < 2^53, so the cast is exact everywhere
        F.round(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))), 4
        )
        .cast("double")
        .alias("sum_disc_price"),
        (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@register(
    "histogram_desc",
    tags=("agg", "A2", "A8"),
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY n DESC, event_type
    """,
)
def histogram_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flags histogram: groupBy+count, sorted desc (CheckerApp.scala:164-169)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count("*").alias("n")).orderBy(F.desc("n"), "event_type")


@register(
    "confusion_matrix",
    tags=("agg", "A1"),
    oracle="""
    SELECT (value > 50) AS predicted, (event_type IN ('purchase','signup')) AS actual,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP/TN/FP/FN counters as one hash-agg (CheckerApp.scala:70-96).

    The reference bumps 4 longAccumulators while filtering; declaratively
    this is a groupBy over the two boolean calls — one pass, no side state.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.col("value") > 50).alias("predicted"),
            F.col("event_type").isin("purchase", "signup").alias("actual"),
        )
        .groupBy("predicted", "actual")
        .agg(F.count("*").alias("n"))
    )


@register(
    "group_stats",
    tags=("agg", "A9"),
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS mean_price,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd_price,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS median_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats distributions N/min/max/mean/stddev/median (ComputeSplits.scala:58-69)."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        (F.sum(dec("o_totalprice")).cast("double") / F.count("*")).alias("mean_price"),
        F.round(F.stddev_samp("o_totalprice"), 4).alias("sd_price"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
    )


@register(
    "count_distinct_by_group",
    tags=("agg",),
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def count_distinct_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (engine-extension; absent in reference, §2.4 note)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register(
    "rollup_counts",
    tags=("agg",),
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (engine-extension, §2.4 note)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "pivot_manual",
    tags=("agg",),
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                         THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                         THEN CAST(l_quantity AS DECIMAL(18,4)) ELSE 0 END) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_manual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation (engine-extension)."""
    li = table(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast("decimal(18,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", dec("l_quantity")).otherwise(zero))
        .cast("double")
        .alias("qty_open"),
        F.sum(F.when(F.col("l_linestatus") == "F", dec("l_quantity")).otherwise(zero))
        .cast("double")
        .alias("qty_filled"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3: J1-J5)
# ---------------------------------------------------------------------------


@register(
    "multiway_join",
    headline=True,
    tags=("join",),
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake equi-join chain; small dims broadcast (CanLoadBam.scala:80 ↔ F.broadcast)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            (F.sum(dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_acctbal"),
        )
    )


@register(
    "broadcast_dim_join",
    headline=True,
    tags=("join",),
    oracle="""
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with explicit broadcast of the small side — no shuffle of the fact table."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice").alias("revenue"))
    )


@register(
    "anti_join_no_orders",
    tags=("join", "J5", "E1"),
    oracle="""
    SELECT c.c_nationkey, COUNT(*) AS n_customers_without_big_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_nationkey
    """,
)
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join = the reference's read-name set diff (TimeLoad.scala:289-305)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers_without_big_orders"))
    )


@register(
    "semi_join_active_parts",
    tags=("join",),
    oracle="""
    SELECT p.p_type, COUNT(*) AS n_parts
    FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    GROUP BY p.p_type
    """,
)
def semi_join_active_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS); engine-native, absent in reference (§2.3 note)."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_type")
        .agg(F.count("*").alias("n_parts"))
    )


@register(
    "full_outer_classify",
    tags=("join", "J2", "E2"),
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
    SELECT CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 'Both'
                WHEN a.k IS NOT NULL THEN 'LeftOnly' ELSE 'RightOnly' END AS side,
           COUNT(*) AS n
    FROM a FULL OUTER JOIN b ON a.k = b.k
    GROUP BY 1
    """,
)
def full_outer_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-diff orMerge: full-outer merge classified Both/L/R (ComputeSplits.scala:114-122)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k")).distinct()
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k")).distinct()
    joined = a.alias("a").join(b.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    side = (
        F.when(F.col("a.k").isNotNull() & F.col("b.k").isNotNull(), "Both")
        .when(F.col("a.k").isNotNull(), "LeftOnly")
        .otherwise("RightOnly")
    )
    return joined.select(side.alias("side")).groupBy("side").agg(F.count("*").alias("n"))


@register(
    "interval_overlap_join",
    headline=True,
    tags=("join", "J4", "P2"),
    oracle="""
    SELECT CAST(d.day_start AS DATE) AS day, e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM (SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01',
                                        TIMESTAMP '2024-01-31',
                                        INTERVAL 1 DAY)) AS day_start) d
    JOIN events e ON e.ts >= d.day_start AND e.ts < d.day_start + INTERVAL 1 DAY
    GROUP BY 1, 2
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast interval join — the loadBamIntervals overlap predicate
    (Intervals.scala:148-154; J4). Small interval dim broadcast, exactly
    the scale shape of reads⋈LociSet.

    r18 (guide §3, VERDICT r17 #7): the intervals are the day grid, so
    events are BUCKETED to it (date_trunc('day', ts)) and the join is an
    EQUI-join on the bucket with the original range predicate kept as
    the residual condition — a BroadcastHashJoin (one hash probe per
    event) instead of the BroadcastNestedLoopJoin that compared every
    event against up to 31 intervals.  Row-identical unconditionally:
    the residual reproduces the original predicate, and any row the old
    join emitted satisfies trunc(ts) = day_start because every interval
    is one midnight-aligned day (the bucket key is derived from the
    interval grid, the general range-bucketing recipe).  At 100 TB the
    per-row interval scan was O(|intervals|); the hash probe is O(1)."""
    ev = table(spark, sf_dir, "events")
    days = spark.sql(
        "SELECT explode(sequence(timestamp'2024-01-01', timestamp'2024-01-31',"
        " interval 1 day)) AS day_start"
    )
    joined = ev.join(
        F.broadcast(days),
        (F.date_trunc("day", ev.ts) == days.day_start)
        & (ev.ts >= days.day_start)
        & (ev.ts < days.day_start + F.expr("interval 1 day")),
    )
    return joined.groupBy(
        F.col("day_start").cast("date").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"), dsum("value").alias("total_value"))


@register(
    "asof_join_latest_order",
    tags=("join", "asof"),
    oracle="""
    SELECT e.event_id, e.user_id, CAST(MAX(o.o_orderdate) AS DATE) AS asof_order_date
    FROM events e
    LEFT JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union+ordered-window merge (engine-extension).

    Instead of the naive theta-join (orders × events per key, quadratic in
    per-key cardinality), union both streams tagged, sort once per key, and
    carry the last seen order timestamp forward — one shuffle, linear work,
    the classic scalable merge-asof. The oracle states the same semantics
    as the naive SQL.
    """
    ev = table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("ts").alias("t"), F.col("event_id"), F.lit(1).alias("is_event")
    )
    od = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_event"),
    )
    merged = ev.unionByName(od).withColumn(
        "order_t", F.when(F.col("is_event") == 0, F.col("t"))
    )
    # orders sort before events at equal t (is_event asc) => o_orderdate <= ts inclusive
    w = (
        W.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        merged.withColumn("asof_order_date", F.last("order_t", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", "user_id", F.col("asof_order_date").cast("date").alias("asof_order_date"))
    )


# ---------------------------------------------------------------------------
# Window / ordered operators (SURVEY §2.5: W1-W5, A4-A5)
# ---------------------------------------------------------------------------


@register(
    "window_lead_splits",
    tags=("window", "W1"),
    oracle="""
    SELECT o_custkey, o_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           DATE_DIFF('day', o_orderdate,
                     LEAD(o_orderdate) OVER w) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lead_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sliding2: pair each element with its successor to form (start,end)
    split ranges (CanLoadBam.scala:172; W1) — LEAD over an ordered window."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")).cast("long").alias("gap_days"),
    )


@register(
    "window_lag_prev",
    tags=("window", "W2"),
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           LAG(l_quantity) OVER (PARTITION BY l_suppkey
                                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
    FROM lineitem
    """,
)
def window_lag_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sliding2Prev: pair each block with its predecessor (CheckBlocks.scala:83,102; W2).

    The synthetic lineitem is not PK-unique — (l_orderkey, l_linenumber)
    repeats — so l_quantity joins the order key: with the lagged column
    itself as the final tiebreak, the result MULTISET is deterministic
    even when whole rows tie (the engines may order tied rows either way,
    but the set of (row, prev) pairs comes out identical)."""
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
    return li.select("l_suppkey", "l_orderkey", "l_linenumber", F.lag("l_quantity").over(w).alias("prev_qty"))


@register(
    "cumulative_prefix_sum",
    tags=("window", "A4", "A5"),
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def cumulative_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scanLeft prefix sum (Blocks.scala:98-107 A5; FullCheck CDF A4) as a
    cumulative window sum — Spark computes it distributed per key."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(W.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "row_number_range_filter",
    tags=("window", "P11", "P10"),
    oracle="""
    SELECT o_orderkey, rn FROM (
      SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders
    ) WHERE rn BETWEEN 101 AND 200
    """,
)
def row_number_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-index range selection (HTSJDKRewrite.scala:54-58 `-r 100-1000`; P11)."""
    o = table(spark, sf_dir, "orders")
    w = W.orderBy("o_orderkey")
    return (
        o.select("o_orderkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn").between(101, 200))
    )


@register(
    "prefix_sum_bucket_assignment",
    tags=("window", "W5"),
    oracle="""
    SELECT bucket, COUNT(*) AS n_rows,
           CAST(SUM(qty) AS DOUBLE) AS bucket_qty
    FROM (
      SELECT CAST(FLOOR((SUM(CAST(l_quantity AS DECIMAL(18,4)))
                   OVER (ORDER BY l_orderkey, l_linenumber, l_quantity ROWS UNBOUNDED PRECEDING)
                   - CAST(l_quantity AS DECIMAL(18,4))) / 10000) AS BIGINT) AS bucket,
             CAST(l_quantity AS DECIMAL(18,4)) AS qty
      FROM lineitem
    ) GROUP BY bucket
    """,
)
def prefix_sum_bucket_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-offset partition assignment (Blocks.scala:116-124; W5):
    prefix-sum of costs, bucket id = floor(preceding_total / split_size).
    This is exactly the reference's balanced-partition planner as SQL.
    l_quantity joins the order key because the synthetic lineitem has
    duplicate (l_orderkey, l_linenumber) pairs — with the summed column
    as the last tiebreak the prefix sums are order-independent."""
    li = table(spark, sf_dir, "lineitem")
    w = W.orderBy("l_orderkey", "l_linenumber", "l_quantity").rowsBetween(W.unboundedPreceding, 0)
    cum = F.sum(dec("l_quantity")).over(w) - dec("l_quantity")
    return (
        li.select(
            F.floor(cum / 10000).cast("long").alias("bucket"),
            dec("l_quantity").alias("qty"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"), F.sum("qty").cast("double").alias("bucket_qty"))
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.6: O1-O5)
# ---------------------------------------------------------------------------


@register(
    "topk_revenue_orders",
    headline=True,
    tags=("topk", "O3"),
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def topk_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break — Spark plans TakeOrderedAndProject
    (no global sort materialization; O3, CheckerApp print-limit).

    r17: keyed fan_out on the grouping key — at ~4:1 combine ratio the
    serial single-split partial aggregate WAS the query (one task
    building a 150k-key DECIMAL sum map); hash-distributing the pruned
    3-column scan on l_orderkey fuses with the aggregation's required
    distribution (still exactly one exchange) and runs both aggregate
    phases parallel.  Measured 1.23 → 0.76 s (one-off r17 micro-benchmark);
    on a cluster the wrapper passes through and the default
    partial-first shape stands.  The DECIMAL sum is exact, so the
    result is order-independent — bit-identical (oracle re-verified)."""
    li = fan_out(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        "l_orderkey",
    )
    rev = F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast("double")
    return (
        li.groupBy("l_orderkey")
        .agg(rev.alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "topk_per_group",
    tags=("topk", "window"),
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (engine-extension; §2.6 note)."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.select("c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7: E1-E3)
# ---------------------------------------------------------------------------


@register(
    "set_except",
    tags=("setop", "E1"),
    oracle="""
    SELECT DISTINCT o_custkey AS c_custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference both directions (TimeLoad.scala:289-305; E1)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return with_orders.exceptAll(building).distinct()


@register(
    "set_intersect",
    tags=("setop",),
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (engine-native; absent in reference, §2.7 note)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey"))
    return building.intersect(with_orders)


@register(
    "union_distinct_sorted",
    tags=("setop", "E3"),
    oracle="""
    SELECT DISTINCT p_brand AS name FROM part
    UNION
    SELECT DISTINCT p_type AS name FROM part
    ORDER BY name
    """,
)
def union_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """allAddresses = (offsets ++ boundaries).distinct.sorted (Index.scala:38-40; E3)."""
    p = table(spark, sf_dir, "part")
    return (
        p.select(F.col("p_brand").alias("name"))
        .union(p.select(F.col("p_type").alias("name")))
        .distinct()
        .orderBy("name")
    )


@register(
    "cube_counts",
    tags=("agg", "cube"),
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all 4 grouping sets in one pass
    (engine-native; absent in reference, §2.4 note). Partial aggregation
    happens map-side per grouping set, so the shuffle carries pre-combined
    rows — the cube costs ~4 partial aggs, not 4 scans."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


@register(
    "approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS within_2pct
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) validated against exact in-frame;
    the oracle pins within_2pct TRUE, so a sketch outside its rsd fails
    the driver hash (raw sketch estimates are engine-specific and stay
    out of the output — same contract pattern as the datapipe sketches).

    The 100 TB point: the sketch is a fixed-size partial aggregate —
    one narrow pass + tiny shuffle, where exact COUNT(DISTINCT) must
    shuffle every distinct key."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
            F.count_distinct("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= F.col("exact_orders") * 0.02
            ).alias("within_2pct"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "skew_join_salted",
    tags=("join", "skew"),
    oracle="""
    WITH dim AS (SELECT l_returnflag, COUNT(*) AS n_flag FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           MAX(d.n_flag) AS n_flag
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a pathologically skewed key (l_returnflag: 3 distinct
    values over the whole fact table).

    A plain shuffle join would put ~1/3 of 100 TB in each of 3 reducer
    partitions. Salting: the fact side gets a deterministic salt
    (orderkey mod R), the dim side is replicated xR, and the join key
    becomes (key, salt) — R-times the reduce parallelism, identical
    result (oracle joins unsalted). AQE's skew-join split handles the
    sort-merge case automatically; the manual pattern still matters for
    stateful/streaming joins and aggregations where AQE can't re-plan.
    The merge hint keeps the dim side out of a broadcast so the salted
    shuffle path is actually exercised."""
    R = 8
    li = table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_orderkey"), F.lit(R)).cast("int")
    )
    dim = li.groupBy("l_returnflag").agg(F.count("*").alias("n_flag"))
    salts = spark.range(R).select(F.col("id").cast("int").alias("salt"))
    dim_salted = dim.crossJoin(salts).hint("merge")
    return (
        li.join(dim_salted, ["l_returnflag", "salt"])
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice").alias("revenue"),
            F.max("n_flag").alias("n_flag"),
        )
    )


@register(
    "stats_mad",
    tags=("agg", "A9"),
    oracle="""
    WITH med AS (
      SELECT o_orderpriority, QUANTILE_CONT(o_totalprice, 0.5) AS med
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           ROUND(QUANTILE_CONT(ABS(o.o_totalprice - m.med), 0.5), 4) AS mad_price
    FROM orders o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — the remaining field of the reference's
    Stats struct (A9, ComputeSplits.scala:58-69). Two passes by nature:
    per-group median, then median of absolute deviations; the medians
    table is group-cardinality-sized, so it broadcasts."""
    o = table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    return (
        o.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(abs(o_totalprice - med), 0.5)"), 4).alias("mad_price")
        )
    )


@register(
    "ranking_functions",
    tags=("window", "rank"),
    oracle="""
    SELECT o_orderpriority,
           o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WHERE o_orderkey < 1000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_orderpriority, rnk, o_orderkey
    """,
)
def ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile (§2.5 note: absent in reference, exposed
    natively). Deterministic tie-break on the order key so both engines
    assign identical ntile buckets."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    )


@register(
    "exists_semi_subquery",
    tags=("join", "subquery"),
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def exists_semi_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (TPC-H Q4 shape) through the SQL API — Catalyst
    decorrelates it into a left-semi join; the DataFrame twin is
    semi_join_active_parts."""
    from spark_bam_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "scalar_subquery_above_avg",
    tags=("agg", "subquery"),
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_rich
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (TPC-H Q22 shape): the average is one
    broadcast scalar, not a join — Catalyst plans a subquery reuse node."""
    from spark_bam_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_rich
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


@register(
    "outer_join_count_histogram",
    tags=("join", "agg"),
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_orders
    """,
)
def outer_join_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-order-count distribution (TPC-H Q13 shape): left outer
    join preserving zero-order customers, then a histogram of counts —
    two balanced shuffles, no skew (custkey is uniform)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_orders")
    )


@register(
    "deterministic_sample",
    tags=("sample", "O3"),
    oracle="""
    SELECT COUNT(*) AS n_sampled,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '0d'
    """,
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~5% sample by hashing the key into md5 buckets
    (O3 sampling, and the training-data-pipeline requirement that a
    sample be stable across runs/engines — rand() is neither). The
    predicate is a pure row-local expression: pushes to the scan, no
    shuffle, identical rows in any engine."""
    o = table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2)
    return o.filter(bucket < "0d").agg(
        F.count("*").alias("n_sampled"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.sum(dec("o_totalprice")).cast("double").alias("total"),
    )


@register(
    "overlap_pairs_binned",
    tags=("join", "range", "J4"),
    oracle="""
    WITH iv AS (
      SELECT event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS e
      FROM events WHERE event_type = 'purchase'
    )
    SELECT CAST(make_timestamp(GREATEST(a.s, b.s)) AS DATE) AS day,
           COUNT(*) AS n_pairs
    FROM iv a JOIN iv b
      ON a.event_id < b.event_id AND a.s <= b.e AND b.s <= a.e
    GROUP BY 1
    """,
)
def overlap_pairs_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large×large interval overlap via bin bucketing (the scale path for
    J4 when NEITHER side is broadcastable — the reference's interval
    overlap, Intervals.scala:148-154, assumes a small LociSet; at 100 TB
    both sides can be huge).

    Each interval is exploded to the hour bins it touches (bounded ×2
    here: durations < 1 bin), the pair join becomes an EQUI-join on the
    bin key (shuffle-partitionable, AQE-balanceable), the true overlap
    predicate runs as a residual, and each pair is counted exactly once
    by attributing it to the bin containing the overlap start. A
    broadcast-nested-loop or cartesian range join would be O(n²) across
    the whole corpus; this is O(n·k + pairs) with k = bins per interval.

    Times are integer epoch-µs on both engines (floor() before the cast
    keeps Spark's truncating cast and DuckDB's rounding cast identical).
    """
    BIN = 3_600_000_000  # one hour in µs
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    # ts may surface as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false);
    # unix_micros needs LTZ — the cast is exact under the pinned UTC session
    # timezone and matches DuckDB's epoch_us over its naive TIMESTAMP.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    iv = ev.select(
        "event_id",
        ts_us.alias("s"),
        (ts_us + F.floor(F.col("value") * 1000000.0).cast("long")).alias("e"),
    )
    binned = iv.select(
        "event_id", "s", "e",
        F.explode(F.expr(f"sequence(s div {BIN}, e div {BIN})")).alias("bin"),
    )
    right = binned.select(
        F.col("event_id").alias("event_id_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
        F.col("bin").alias("bin_b"),
    )
    pairs = binned.join(
        right,
        on=[
            F.col("bin") == F.col("bin_b"),
            F.col("event_id") < F.col("event_id_b"),
            F.col("s") <= F.col("e_b"),
            F.col("s_b") <= F.col("e"),
            # attribute each pair to the bin of its overlap start: dedups
            # pairs that co-occur in multiple bins without a distinct()
            F.col("bin") == F.expr(f"greatest(s, s_b) div {BIN}"),
        ],
    )
    return (
        pairs.select(F.to_date(F.timestamp_micros(F.greatest("s", "s_b"))).alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "percentile_report",
    tags=("agg", "A9"),
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def percentile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (A9 Stats distributions:
    Stats.scala histogram quantiles). Spark's `percentile` is the exact
    sort-based aggregate — at 100 TB you'd switch to `approx_percentile`
    (mergeable KLL-style sketch, map-side combinable); the exact form is
    registered because the oracle gate needs engine-identical values.
    Both engines use linear interpolation at rank q·(n-1); results are
    rounded to 6 decimals to absorb last-ulp differences in the
    interpolation arithmetic."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9D)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
    )


@register(
    "rollup_sales_report",
    tags=("agg", "A8"),
    oracle="""
    SELECT n.n_name, year(o.o_orderdate) AS yr,
           GROUPING(n.n_name) + 2*GROUPING(year(o.o_orderdate)) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, year(o.o_orderdate))
    """,
)
def rollup_sales_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals in one pass: ROLLUP(nation, year) emits the
    detail rows, per-nation subtotals, and the grand total from a single
    shuffle (Spark expands the grouping sets map-side; no re-scan per
    level — at 100 TB that is 1 pass instead of 3). grouping() bits
    disambiguate data NULLs from subtotal NULLs. The dimension joins
    stay broadcast (nation/customer are small)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", F.year("o_orderdate").cast("long").alias("yr"), "o_totalprice")
    )
    return joined.rollup("n_name", "yr").agg(
        (F.grouping("n_name") + 2 * F.grouping("yr")).cast("bigint").alias("gid"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@register(
    "pivot_event_counts",
    tags=("agg", "A8"),
    oracle="""
    SELECT user_id % 10 AS cohort,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): event-type counts per user cohort. The pivot
    values are declared explicitly, which keeps it ONE aggregation pass —
    without them Spark first runs a distinct() over the pivot column
    (an extra job + shuffle) to discover the columns; at 100 TB you
    always declare them. Compiles to the same conditional-count plan as
    the oracle's FILTER clauses."""
    ev = table(spark, sf_dir, "events")
    out = (
        ev.groupBy((F.col("user_id") % 10).alias("cohort"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return out.select(
        "cohort",
        *[F.coalesce(t, F.lit(0)).alias(t) for t in ("click", "error", "purchase", "signup", "view")],
    )


def _zorder_oracle() -> str:
    from spark_bam_spark.operators.layout import _interleave_terms, quantize_sql

    qx = quantize_sql("user_id", "umin", "umax")
    qy = quantize_sql("value", "vmin", "vmax")
    z = _interleave_terms("qx", "qy")
    return f"""
    WITH bounds AS (
      SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM events
    ),
    q AS (
      SELECT {qx} AS qx, {qy} AS qy FROM events, bounds
    ),
    z AS (SELECT qx, qy, ({z}) AS zkey FROM q)
    SELECT zkey // 256 AS bucket,
           COUNT(*) AS n,
           MIN(qx) AS min_qx, MAX(qx) AS max_qx,
           MIN(qy) AS min_qy, MAX(qy) AS max_qy
    FROM z GROUP BY 1
    """


@register("zorder_cluster_stats", tags=("layout", "O5"), oracle=_zorder_oracle())
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout quality report: quantize (user_id, value)
    to 8 bits each, interleave into a 16-bit z-key, and show that every
    256-key bucket (= the rows one output file would own under
    `zorder_write`) spans < 16 of the 256 quantization steps in BOTH
    dimensions. That bounded span is exactly why parquet min/max stats
    prune scans on EITHER column after a z-order write, where a single-
    column sort prunes only its own column. The reference's 1-D analogue
    is coordinate-sorted BAM + Pos bit-packing (pos.py parity cited
    there); this is the N-D generalization for the parquet side.

    Plan: one agg for the bounds (broadcast back as a 1-row join), then
    a narrow all-JVM bit-twiddling map + one groupBy on the bucket —
    layout evaluation at scan speed."""
    from spark_bam_spark.operators.layout import _interleave_terms, quantize_sql

    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    q = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr(quantize_sql("user_id", "umin", "umax")).alias("qx"),
        F.expr(quantize_sql("value", "vmin", "vmax")).alias("qy"),
    )
    z = q.select("qx", "qy", F.expr(_interleave_terms("qx", "qy")).alias("zkey"))
    return (
        z.groupBy((F.col("zkey") / 256).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("qx").cast("long").alias("min_qx"),
            F.max("qx").cast("long").alias("max_qx"),
            F.min("qy").cast("long").alias("min_qy"),
            F.max("qy").cast("long").alias("max_qy"),
        )
    )


@register(
    "funnel_conversion",
    tags=("analytics", "W1"),
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
          JOIN v ON v.user_id = e.user_id
             AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 12 HOUR
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
          JOIN c ON c.user_id = e.user_id
             AND e.ts > c.t_click AND e.ts <= c.t_click + INTERVAL 12 HOUR
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click within 12 h → purchase
    within 12 h of the click), counting users that reach each stage.

    Scale shape: each stage is one groupBy(user) MIN + one equi-join on
    user_id with the time bound as a residual — all three stages hash-
    partition on the SAME key, so AQE coalesces into a chain of
    co-partitioned joins (no re-shuffle between stages). This is the
    declarative form of the per-user sequence scan an imperative engine
    would do with sorted state per user."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 12 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@register(
    "cohort_retention",
    tags=("analytics",),
    oracle="""
    WITH first_day AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS d0
                       FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.d0,
             date_diff('day', f.d0, CAST(e.ts AS DATE)) // 7 AS week_n
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT d0 AS cohort_day, week_n, COUNT(*) AS n_active
    FROM activity GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    once per (cohort, week-offset) they were active in — the standard
    growth-analytics rollup.

    Scale shape: first-seen agg and the activity join both key on
    user_id (one partitioning reused), then distinct + count on the
    small (cohort, week) grid. The DISTINCT before the count keeps the
    final agg input at |users|·|weeks| instead of |events|."""
    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("d0"))
    activity = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "d0",
            F.expr("datediff(cast(ts as date), d0) div 7").alias("week_n"),
        )
        .distinct()
    )
    return (
        activity.groupBy(F.col("d0").alias("cohort_day"), "week_n")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "event_transitions",
    tags=("analytics", "W2"),
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix of per-user event sequences (the
    Markov-chain view of a clickstream; W2 sliding2Prev semantics —
    lag over an ordered per-key sequence — applied to analytics).

    One window shuffle on user_id (ties broken by event_id for a total
    order), then a count on the tiny 5×5 transition grid with map-side
    partial agg. At 100 TB the window partitions by a uniform key and
    each partition sorts locally — no global sort."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )


@register(
    "rolling_7d_user_spend",
    tags=("window", "W1"),
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_7d
    FROM events WHERE event_type = 'purchase'
    """,
)
def rolling_7d_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row rolling 7-day spend via a RANGE window frame — the
    event-time sliding aggregate the W-family row frames (lead/lag/
    rows-between) can't express: the frame is bounded by TIME, not row
    count, and ts-ties are frame peers in both engines (so no
    tie-ordering nondeterminism by construction).

    One shuffle on user_id, per-partition sort, streaming frame
    evaluation; DECIMAL accumulation keeps the sliding sum exact and
    engine-identical."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.selectExpr(
        "user_id",
        "event_id",
        """CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_7d""",
    )


@register(
    "fuzzy_join_levenshtein",
    tags=("join", "dedup"),
    oracle="""
    WITH k AS (SELECT doc_id, substr(text, 1, 12) AS blk,
                      substr(text, 1, 40) AS probe FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.probe, b.probe) AS dist
    FROM k a JOIN k b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.probe, b.probe) <= 10
    """,
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join on edit distance: candidate pairs share a
    12-char prefix block (equi-join — the blocking step every scalable
    fuzzy join needs; an unblocked levenshtein join is O(n²) DP over the
    whole corpus), then the exact Levenshtein distance over a 40-char
    probe verifies within the block. Same candidate-generation/verify
    split as the MinHash-LSH pipeline, with edit distance instead of
    Jaccard — the right tool for short strings (titles, names, URLs).

    levenshtein() is the standard DP in both engines — identical
    integer distances, JVM-side in Spark (no Python)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 12).alias("blk"),
        F.substring("text", 1, 40).alias("probe"),
    )
    right = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("blk").alias("blk_b"),
        F.col("probe").alias("probe_b"),
    )
    return (
        d.join(right, (F.col("blk") == F.col("blk_b")) & (F.col("doc_id") < F.col("doc_b")))
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            F.levenshtein("probe", "probe_b").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 10)
    )


# ---------------------------------------------------------------------------
# Reshaping + join-variant coverage (engine extensions beyond the reference)
# ---------------------------------------------------------------------------


@register(
    "unpivot_flag_counts",
    tags=("reshape", "unpivot"),
    oracle="""
    WITH wide AS (
      SELECT EXTRACT(month FROM l_shipdate) AS ship_month,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS flag_a,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS flag_n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS flag_r
      FROM lineitem GROUP BY ship_month
    )
    SELECT ship_month, flag, n FROM (
      UNPIVOT wide ON flag_a, flag_n, flag_r INTO NAME flag VALUE n
    )
    ORDER BY ship_month, flag
    """,
)
def unpivot_flag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide->long melt), the inverse of the pivot operators.

    Zero-count cells survive the round trip (a plain long-form groupBy
    would drop them) — that asymmetry is why melt is its own operator.
    Scale shape: unpivot is a narrow per-row explode of a bounded column
    list; the only shuffle is the upstream agg."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy(F.month("l_shipdate").cast("long").alias("ship_month")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("flag_a"),
        F.sum(F.when(F.col("l_returnflag") == "N", 1).otherwise(0)).alias("flag_n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("flag_r"),
    )
    return (
        wide.unpivot(
            ids=["ship_month"],
            values=["flag_a", "flag_n", "flag_r"],
            variableColumnName="flag",
            valueColumnName="n",
        )
        .orderBy("ship_month", "flag")
    )


@register(
    "lateral_topk_customers",
    tags=("join", "lateral", "topk"),
    oracle="""
    SELECT n_name, c_custkey, c_acctbal
    FROM nation, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) top2
    ORDER BY n_name, c_acctbal DESC, c_custkey
    """,
)
def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: per-nation top-2 customers by balance.

    Catalyst decorrelates the LATERAL limit into a window-group-limit over
    one shuffle on the correlation key — same physical shape as
    topk_per_group but declared in SQL, proving the rewrite."""
    from spark_bam_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, c_custkey, c_acctbal
        FROM nation, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) top2
        ORDER BY n_name, c_acctbal DESC, c_custkey
        """
    )


@register(
    "null_safe_join_counts",
    tags=("join", "nullsafe"),
    oracle="""
    WITH a AS (
      SELECT CASE WHEN value > 90 THEN NULL ELSE event_type END AS k, COUNT(*) AS n_a
      FROM events GROUP BY 1
    ), b AS (
      SELECT CASE WHEN value < 10 THEN NULL ELSE event_type END AS k, COUNT(*) AS n_b
      FROM events GROUP BY 1
    )
    SELECT a.k, n_a, n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.k NULLS FIRST
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics SQL equi-joins
    silently drop. Still hash-joinable (NULL is an ordinary bucket), so
    the plan is identical to a plain equi-join at any scale."""
    ev = table(spark, sf_dir, "events")
    a = (
        ev.select(F.when(F.col("value") > 90, None).otherwise(F.col("event_type")).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        ev.select(F.when(F.col("value") < 10, None).otherwise(F.col("event_type")).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_b"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"].alias("k"), "n_a", "n_b")
        .orderBy(F.col("k").asc_nulls_first())
    )


@register(
    "numeric_bin_histogram",
    tags=("agg", "histogram", "A8"),
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def numeric_bin_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width numeric binning (profiling histogram; the numeric twin
    of the reference's offset histograms, CheckBlocks.scala:125-152).
    Bucketing is a row-local expression, so the only shuffle is the agg."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("bucket")
    )


@register(
    "grouping_sets_mixed",
    tags=("agg", "groupingsets"),
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    ORDER BY g_region, g_nation, r_name NULLS FIRST, n_name NULLS FIRST
    """,
)
def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with mixed granularities + GROUPING()
    markers (beyond the uniform cube/rollup already covered). One Expand
    pass feeds a single hash agg — rows multiply by the number of sets,
    not by a shuffle per set."""
    from spark_bam_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               CAST(GROUPING(r_name) AS BIGINT) AS g_region,
               CAST(GROUPING(n_name) AS BIGINT) AS g_nation
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        ORDER BY g_region, g_nation, r_name NULLS FIRST, n_name NULLS FIRST
        """
    )


@register(
    "bag_intersect_except",
    tags=("setop", "E1", "E3"),
    oracle="""
    SELECT 'intersect_all' AS op, l_suppkey FROM (
      SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
      INTERSECT ALL
      SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    )
    UNION ALL
    SELECT 'except_all' AS op, l_suppkey FROM (
      SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
      EXCEPT ALL
      SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
    )
    """,
)
def bag_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) — multiplicity-
    preserving versions of the reference's E1/E3 set diffs. Spark plans
    both as a single aggregate of signed counts plus replicate — one
    shuffle each, no join blow-up."""
    li = table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    return (
        r.intersectAll(a).select(F.lit("intersect_all").alias("op"), "l_suppkey")
        .unionAll(r.exceptAll(a).select(F.lit("except_all").alias("op"), "l_suppkey"))
    )


@register(
    "attribution_last_touch",
    tags=("events", "window", "analytics"),
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, value,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM events
    )
    SELECT COALESCE(channel, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS attributed_value
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(channel, 'direct')
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase's value is credited to the
    channel of the user's most recent PRECEDING non-purchase event (the
    classic marketing-attribution window; purchases with no prior event
    credit 'direct'). Channel = event_type of that touch.

    Scale shape: one shuffle on user_id, one per-user ordered window
    carrying last_value(... IGNORE NULLS) over the preceding frame, then
    a tiny per-channel agg. DECIMAL accumulation of the double values
    keeps the sums bit-identical across engines (the events.value
    convention shared with the streaming twins)."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touched = ev.select(
        "event_type",
        "value",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("channel"),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("attributed_value"),
        )
    )


@register(
    "event_anomaly_zscore",
    tags=("events", "window", "analytics"),
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, v100,
             SUM(v100) OVER fr AS s1,
             SUM(v100 * v100) OVER fr AS s2,
             COUNT(*) OVER fr AS n
      FROM v
      WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT user_id, event_id, v100 / 100.0 AS value,
             CAST(s1 AS DOUBLE) / (100.0 * n) AS m,
             CAST(s2 AS DOUBLE) / (10000.0 * n)
               - (CAST(s1 AS DOUBLE) / (100.0 * n)) * (CAST(s1 AS DOUBLE) / (100.0 * n))
               AS var,
             n
      FROM w
    )
    SELECT user_id, event_id, value,
           ROUND((value - m) / sqrt(var), 6) AS z
    FROM z
    WHERE n >= 10 AND var > 0 AND (value - m) * (value - m) >= 9 * var
    """,
)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: flag events whose value sits
    >= 3 sigma from the mean of the user's PREVIOUS <= 20 events (>= 10
    for warm-up) — the standard per-entity outlier monitor, expressed as
    one ordered window.

    Cross-engine exactness: values are 2-dp, so the window sums run over
    integer cents (floor(v*100 + 0.5)) — S1, S2 and n are integer-exact,
    mean/variance derive from them in identical double arithmetic, and
    the 3-sigma test compares (v-m)^2 >= 9*var (no sqrt at the decision
    boundary; sqrt only for the reported z, rounded 6dp).

    Scale shape: one shuffle on user_id, one bounded-frame window pass —
    Spark keeps the 20-row frame incrementally, so cost is O(events),
    not O(events * frame)."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v100"),
    )
    fr = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    w = v.select(
        "user_id",
        "event_id",
        "v100",
        F.sum("v100").over(fr).alias("s1"),
        F.sum(F.col("v100") * F.col("v100")).over(fr).alias("s2"),
        F.count("*").over(fr).alias("n"),
    )
    m = F.col("s1").cast("double") / (100.0 * F.col("n"))
    var = F.col("s2").cast("double") / (10000.0 * F.col("n")) - m * m
    val = F.col("v100") / 100.0
    z = w.select(
        "user_id",
        "event_id",
        val.alias("value"),
        m.alias("m"),
        var.alias("var"),
        "n",
    )
    return (
        z.filter(
            (F.col("n") >= 10)
            & (F.col("var") > 0)
            & ((F.col("value") - F.col("m")) * (F.col("value") - F.col("m")) >= 9 * F.col("var"))
        )
        .select(
            "user_id",
            "event_id",
            "value",
            F.round((F.col("value") - F.col("m")) / F.sqrt("var"), 6).alias("z"),
        )
    )


@register(
    "rfm_user_segments",
    tags=("events", "analytics", "mlprep"),
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS now FROM events),
    rfm AS (
      SELECT user_id,
             CAST((epoch_us(anchor.now) - epoch_us(MAX(ts))) // 86400000000 AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END)
                  AS DOUBLE) AS monetary
      FROM events, anchor
      GROUP BY user_id, anchor.now
    )
    SELECT user_id, recency_days, frequency, monetary,
           CASE WHEN recency_days <= 2 AND monetary >= 2000 THEN 'champion'
                WHEN recency_days <= 2 THEN 'recent'
                WHEN monetary >= 2000 THEN 'big_spender'
                ELSE 'standard' END AS segment
    FROM rfm
    """,
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic feature-engineering pass for churn/value models: days since
    last event (relative to the corpus max timestamp, so the query is
    reproducible), total event count, DECIMAL-exact purchase revenue,
    and a rule segment.

    Scale shape: one map-side-combined agg on user_id plus a broadcast
    one-row anchor; integer day arithmetic on unix micros (floor
    division, identical in both engines), DECIMAL money — all
    engine-exact, no windows."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    anchor = ev.agg(F.max("ts_us").alias("now_us"))
    money = F.sum(
        F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,4)"))
        .otherwise(F.lit(0).cast("decimal(18,4)"))
    ).cast("double")
    rfm = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "now_us")
        .agg(
            F.expr("(max(now_us) - max(ts_us)) div 86400000000").cast("bigint").alias(
                "recency_days"
            ),
            F.count("*").cast("bigint").alias("frequency"),
            money.alias("monetary"),
        )
        .drop("now_us")
    )
    seg = (
        F.when((F.col("recency_days") <= 2) & (F.col("monetary") >= 2000), "champion")
        .when(F.col("recency_days") <= 2, "recent")
        .when(F.col("monetary") >= 2000, "big_spender")
        .otherwise("standard")
    )
    return rfm.select("user_id", "recency_days", "frequency", "monetary", seg.alias("segment"))


@register(
    "basket_part_pairs",
    tags=("relational", "analytics"),
    oracle="""
    WITH parts AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM parts a JOIN parts b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    total AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem)
    SELECT part_a, part_b,
           CAST(COUNT(*) AS BIGINT) AS support_cnt,
           ROUND(CAST(COUNT(*) AS DOUBLE) / total.n_orders, 6) AS support
    FROM pairs, total
    GROUP BY part_a, part_b, total.n_orders
    ORDER BY support_cnt DESC, part_a, part_b
    LIMIT 25
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-25 part pairs most often
    bought together (distinct parts per order, unordered pairs, support
    count + support rate) — the level-2 Apriori/FP-growth building block
    as one declarative plan.

    Scale shape: pair enumeration happens WITHIN each order — baskets
    are small (~4 line items), so the per-order pair explosion is
    bounded and the join key (l_orderkey) is uniform; never an all-pairs
    across the catalog. Counting is a map-side-combined agg on the
    (part_a, part_b) pair key; top-25 is TakeOrderedAndProject. The
    one-row order count broadcasts."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    parts = li.distinct()
    a, b = parts.alias("a"), parts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    total = li.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("support_cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "part_a",
            "part_b",
            "support_cnt",
            F.round(F.col("support_cnt").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
        )
        .orderBy(F.desc("support_cnt"), "part_a", "part_b")
        .limit(25)
    )


@register(
    "interval_union_per_supplier",
    tags=("relational", "window", "interval"),
    oracle="""
    WITH iv AS (
      SELECT l_suppkey AS k,
             epoch_us(l_shipdate) // 86400000000 AS s,
             epoch_us(l_shipdate) // 86400000000 + CAST(l_quantity AS BIGINT) AS e
      FROM lineitem
    ),
    ord AS (
      SELECT k, s, e,
             MAX(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    isl AS (
      SELECT k, s, e,
             SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
               OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
      FROM ord
    ),
    merged AS (SELECT k, grp, MIN(s) AS ms, MAX(e) AS me FROM isl GROUP BY k, grp)
    SELECT k AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(me - ms) AS BIGINT) AS covered_days,
           CAST(MAX(me - ms) AS BIGINT) AS longest_days
    FROM merged GROUP BY k
    """,
)
def interval_union_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval UNION (interval merge) per supplier — the
    classic gaps-and-islands-with-running-max pattern: each line item
    opens a delivery window [shipdate, shipdate + quantity days]; merge
    every overlapping window per supplier and report merged-interval
    count, total covered days, and the longest merged stretch.

    Determinism: interval endpoints are integer epoch DAYS, the running
    max orders by (start, end) — rows tied on both are interchangeable
    in every window expression, so the result is layout-independent.
    Scale shape: one shuffle on the supplier key, two window passes over
    the same sort, then a per-(supplier, island) agg — the standard
    O(n log n) interval-union plan, no self-join."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_shipdate", "l_quantity")
    day = F.expr("unix_micros(cast(l_shipdate as timestamp_ltz)) div 86400000000")
    iv = li.select(
        F.col("l_suppkey").alias("k"),
        day.alias("s"),
        (day + F.col("l_quantity").cast("bigint")).alias("e"),
    )
    w = W.partitionBy("k").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    isl = iv.withColumn(
        "grp",
        F.sum(
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
        ).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("k", "grp").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy(F.col("k").alias("suppkey")).agg(
        F.count("*").cast("bigint").alias("n_merged"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_days"),
        F.max(F.col("me") - F.col("ms")).cast("bigint").alias("longest_days"),
    )


@register(
    "revenue_mom_growth",
    tags=("relational", "window", "analytics"),
    oracle="""
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE)
                 / NULLIF(CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE), 0) - 1, 6)
             AS mom_growth
    FROM m
    """,
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the period-over-period report
    every BI surface ships: monthly DECIMAL-exact revenue with the
    growth rate against the previous month via lag (first month NULL).

    Scale shape: a map-side-combined month agg (tiny output), then a
    single-partition lag over the handful of month rows — the global
    window is over |months|, never the fact table."""
    o = table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
            ).alias("month")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    prev = F.lag("rev").over(W.orderBy("month"))
    return m.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.nullif(prev.cast("double"), F.lit(0.0)) - 1, 6
        ).alias("mom_growth"),
    )
