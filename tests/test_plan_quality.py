"""Physical-plan regression tests: the optimizations the engine claims
must be visible in .explain output, not just fast today. Guards against
silent plan regressions (a lost broadcast, a Python eval node sneaking
into a hot path, a filter that stops reaching the scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_bam_spark.queries import load_all
from spark_bam_spark.tables import table

REGISTRY = load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_dim_join_broadcasts(spark, sf_small):
    plan = plan_of(REGISTRY["broadcast_dim_join"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_topk_uses_take_ordered(spark, sf_small):
    plan = plan_of(REGISTRY["topk_revenue_orders"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_parquet_scan(spark, sf_small):
    li = table(spark, sf_small, "lineitem")
    df = li.filter(F.col("l_shipdate").isNotNull() & (F.col("l_quantity") > 40)).select(
        "l_orderkey", "l_quantity"
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters", 1)[1][:200]


def test_column_pruning_reaches_parquet_scan(spark, sf_small):
    li = table(spark, sf_small, "lineitem")
    plan = plan_of(li.select("l_orderkey", "l_quantity"))
    read_schema = plan.split("ReadSchema", 1)[1][:200]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


@pytest.mark.parametrize("name", ["text_quality_score", "text_token_stats", "dedup_minhash_lsh", "cosine_topk_bruteforce"])
def test_hot_paths_have_no_python_eval(spark, sf_small, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["bam_scan_reads", "bam_interval_pushdown", "bam_count_reads", "bam_blocks_metadata"]
)
def test_default_bam_path_is_pure_jvm(spark, sf_small, name):
    """Since the r9 flip, the default BAM scan must execute entirely
    JVM-side when a JDK is present: a DSv2 BatchScan over the bamjvm
    source, with no Python Data Source node and no Python eval in the
    plan.  A regression here silently reintroduces the ~3x Arrow
    worker-boundary tax the flip removed."""
    from spark_bam_spark.bam import jvmreader

    if jvmreader.javac_path() is None:
        pytest.skip("no JDK compiler on this machine")
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "bamjvm" in plan, plan[:500]
    assert "PythonScan" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_whole_stage_codegen_active(spark, sf_small):
    df = REGISTRY["pricing_summary"].fn(spark, sf_small)
    df.collect()  # AQE finalizes the plan on execution
    # codegen'd stages carry the `*(n)` marker in the plan string
    plan = plan_of(df)
    assert "*(1)" in plan and "*(2)" in plan


def test_fan_out_is_noop_on_wide_input(spark, sf_small):
    from spark_bam_spark.tables import fan_out

    target = spark.sparkContext.defaultParallelism
    # post-shuffle frames can't be judged by scan row groups (the
    # Exchange's partitions are real): the generous planned-count
    # heuristic applies — no-op at 4x cores, insurance shuffle below it
    li = table(spark, sf_small, "lineitem").repartition(4 * target)
    assert fan_out(li) is li  # cluster-shaped inputs pass through untouched
    mid = table(spark, sf_small, "lineitem").repartition(2 * target)
    assert fan_out(mid) is not mid
    # bare scans are judged on MEASURED row groups AND measured rows: the
    # single-row-group lineitem fixture (~6k rows) must spread, to the
    # rows-derived target (min(cores, rows // 256)), never wider
    one = table(spark, sf_small, "lineitem")
    expect = min(target, max(1, one.count() // 256))
    assert expect > 1  # fixture sanity: the spread must actually fire
    assert fan_out(one).rdd.getNumPartitions() == expect
    # a tiny measured scan (nation: 5 rows) gains nothing from spreading —
    # the rows floor skips the insurance exchange outright (r17)
    tiny = table(spark, sf_small, "nation")
    assert fan_out(tiny) is tiny


def test_fan_out_footer_budget_exhaustion_keeps_full_spread(spark, tmp_path):
    """The r16 ADVICE #1 branch, previously unpinned: a mostly-empty
    layout with more than 4*cores part files exhausts the footer budget
    before finding cores row groups.  The walk must return the measured
    lower bound with rows=None (incomplete count), and fan_out must take
    the insurance repartition at the FULL core count (the rows floor
    only applies to fully-enumerated scans)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_bam_spark.tables import _scan_row_groups, fan_out

    target = spark.sparkContext.defaultParallelism
    d = tmp_path / "many_empty_parts"
    d.mkdir()
    schema = pa.schema([("x", pa.int64())])
    for i in range(4 * target + 8):  # > the 4*cap footer budget
        pq.ParquetWriter(str(d / f"part-{i:05d}.parquet"), schema).close()
    pq.write_table(pa.table({"x": list(range(1000))}), str(d / "zz-data.parquet"))
    df = spark.read.parquet(str(d))
    rg, rows = _scan_row_groups(df, target)
    assert rows is None and rg is not None and rg < target
    out = fan_out(df)
    assert out is not df and out.rdd.getNumPartitions() == target


def test_fan_out_rows_derived_spread(spark, tmp_path):
    """r17 rows floor: the insurance spread is derived from the MEASURED
    row count (min(cores, rows // 256)), so a mid-size single-row-group
    file spreads to a few partitions, not blindly to the core count, and
    a sub-256-row file passes through with no exchange at all.  Unknown
    rows (the short-circuited >=cap-row-group walk) keep the full
    core-count behavior — pinned by the `== target` asserts in the
    measured-ownership tests above."""
    from spark_bam_spark.tables import fan_out

    target = spark.sparkContext.defaultParallelism
    mid = spark.read.parquet(_write_rg_fixture(tmp_path, 1_000, 1_000_000))
    out = fan_out(mid)
    assert out is not mid
    assert out.rdd.getNumPartitions() == min(target, 1_000 // 256)
    tiny = spark.read.parquet(_write_rg_fixture(tmp_path, 200, 1_000_000))
    assert fan_out(tiny) is tiny


def test_memo_lru_bounded():
    """r18 (VERDICT r17 #5): the driver-side memos (_TABLE_CACHE,
    _FAN_OUT_MEMO) are LRU-bounded — keys embed analyzed-plan strings, so
    unbounded growth is a slow driver leak in a long-lived session.  Pins
    _memo_put's contract: size never exceeds _MEMO_CAP, the evicted entry
    is the least recently USED (a get-refresh re-inserts), and the cap is
    far above the registry's working set so eviction never fires on the
    bench."""
    from spark_bam_spark.tables import _MEMO_CAP, _memo_put

    memo: dict = {}
    for i in range(_MEMO_CAP + 100):
        _memo_put(memo, i, i)
    assert len(memo) == _MEMO_CAP
    assert 0 not in memo and _MEMO_CAP + 99 in memo  # oldest evicted
    # refresh-on-hit: re-putting an old key protects it from eviction
    oldest = next(iter(memo))
    _memo_put(memo, oldest, memo[oldest])
    _memo_put(memo, "fresh", 1)
    assert oldest in memo and len(memo) == _MEMO_CAP
    # the cap clears the whole registry's key load with wide margin
    assert _MEMO_CAP >= 1024


def test_fan_out_keyed_fuses_with_aggregation(spark, sf_small):
    """r17 keyed fan_out: when the insurance fires, hash-distributing on
    the aggregation key must (a) actually fire on the single-row-group
    fixture, (b) add NO second exchange — the repartition satisfies the
    aggregation's required distribution — and (c) leave results
    identical (the exact DECIMAL sum is order-independent).  Wide inputs
    must still pass through untouched."""
    from pyspark.sql import functions as F

    from spark_bam_spark.tables import fan_out

    target = spark.sparkContext.defaultParallelism
    li = table(spark, sf_small, "lineitem").select("l_orderkey", "l_extendedprice")
    out = fan_out(li, "l_orderkey")
    assert out is not li  # single-row-group fixture: insurance fires
    agg = out.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s")
    )
    plan = plan_of(agg)
    assert "hashpartitioning(l_orderkey" in plan
    # exactly one exchange: the keyed repartition; ENSURE_REQUIREMENTS
    # must not add another for the aggregation
    assert plan.count("Exchange") == 1
    base = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s")
    )
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, base.collect()))
    # cluster-shaped input: keyed form passes through like the round-robin
    wide = table(spark, sf_small, "lineitem").repartition(4 * target)
    assert fan_out(wide, "l_orderkey") is wide


def _write_rg_fixture(tmp_path, n_rows: int, row_group_size: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / f"rg_{n_rows}_{row_group_size}.parquet")
    # incompressible-ish plain int64s so file size (and thus planned
    # splits under a small maxPartitionBytes) scales with rows
    tbl = pa.table({"x": [(i * 2654435761) % (2**61) for i in range(n_rows)]})
    pq.write_table(
        tbl, path, row_group_size=row_group_size,
        use_dictionary=False, compression="NONE",
    )
    return path


def test_fan_out_repartitions_on_measured_narrow_ownership(spark, tmp_path):
    """The r14 100x cliff, reproduced in miniature: a file whose planned
    splits clear even the generous 4x-cores bar but which holds only 2
    row groups — 2 tasks would own ALL rows.  The measured branch must
    take the repartition."""
    from spark_bam_spark.tables import _scan_row_groups, fan_out

    target = spark.sparkContext.defaultParallelism
    path = _write_rg_fixture(tmp_path, 400_000, 200_000)  # ~3.2 MB, 2 row groups
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        df = spark.read.parquet(path)
        planned = df.rdd.getNumPartitions()
        assert planned >= 4 * target  # the old heuristic would pass through
        assert _scan_row_groups(df, target) == (2, 400_000)
        out = fan_out(df)
        assert out is not df and out.rdd.getNumPartitions() == target
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fan_out_measures_empty_part_files(spark, tmp_path):
    """Empty part files (0 row groups) must not inflate the measured
    scan parallelism (r15 ADVICE #1): a dir with >= cores part files of
    which only 2 hold data plans wide and would pass the old
    >=1-row-group-per-file inference, but really owns 2 row groups —
    the measured branch must repartition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_bam_spark.tables import _scan_row_groups, fan_out

    target = spark.sparkContext.defaultParallelism
    d = tmp_path / "parts"
    d.mkdir()
    schema = pa.schema([("x", pa.int64())])
    for i in range(2 * target):  # 0-row-group files, like Spark's empty tasks
        pq.ParquetWriter(str(d / f"part-{i:05d}.parquet"), schema).close()
    for i in range(2):
        tbl = pa.table({"x": [(j * 2654435761) % (2**61) for j in range(200_000)]})
        pq.write_table(
            tbl, str(d / f"data-{i}.parquet"),
            use_dictionary=False, compression="NONE",
        )
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        df = spark.read.parquet(str(d))
        assert df.rdd.getNumPartitions() >= target  # planned wide
        assert len(df.inputFiles()) >= target  # file-count inference would pass
        assert _scan_row_groups(df, target) == (2, 400_000)  # measured truth
        out = fan_out(df)
        assert out is not df and out.rdd.getNumPartitions() == target
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fan_out_passes_through_measured_wide_scan(spark, tmp_path):
    """A scan with >= cores row groups AND >= cores planned splits is
    genuinely parallel and must pass through unchanged — the measured
    branch's no-op side (and the converse pin: many row groups in a file
    small enough to plan ONE split still repartitions, because a single
    task would own every group)."""
    from spark_bam_spark.tables import _scan_row_groups, fan_out

    target = spark.sparkContext.defaultParallelism
    path = _write_rg_fixture(tmp_path, 6400 * max(1, target // 8), 50)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= target  # planned wide
        assert _scan_row_groups(df, target) == (target, None)  # capped: >= target (rows moot)
        assert fan_out(df) is df
        # narrow projections over the scan keep the pass-through
        proj = df.select((F.col("x") % 7).alias("m"))
        assert fan_out(proj) is proj
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # same many-row-group file, default split planning: ONE planned split
    # owns all groups — min(planned, row_groups) < cores => repartition
    df1 = spark.read.parquet(path)
    assert df1.rdd.getNumPartitions() < target
    assert fan_out(df1).rdd.getNumPartitions() == target


@pytest.mark.parametrize(
    "name", sorted(n for n, s in REGISTRY.items() if s.headline and s.oracle)
)
def test_headline_queries_are_run_deterministic(spark, sf_small, name):
    """Two executions must produce identical rows — guards against
    nondeterminism (rand(), unordered float accumulation, ties without
    breaks) regressing into graded queries."""
    fn = REGISTRY[name].fn
    a = sorted(map(tuple, fn(spark, sf_small).collect()))
    b = sorted(map(tuple, fn(spark, sf_small).collect()))
    assert a == b


def test_overlap_pairs_binned_is_equi_join(spark, sf_small):
    # the whole point of the binning: NO nested-loop / cartesian pair join
    plan = plan_of(REGISTRY["overlap_pairs_binned"].fn(spark, sf_small))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # equi-join on the bin key (broadcast at toy scale, shuffled at real
    # scale — either way it's a hash join keyed on bin, never all-pairs)
    assert "HashJoin" in plan or "SortMergeJoin" in plan


@pytest.mark.parametrize("name", ["ann_recall_eval", "stateful_topk_purchases"])
def test_grouped_topk_uses_window_group_limit(spark, sf_small, name):
    # row_number() <= k must pre-prune partitions before the exchange
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "WindowGroupLimit" in plan


def test_rollup_is_single_expand_pass(spark, sf_small):
    # ROLLUP = one Expand node feeding one agg, not one scan per level
    plan = plan_of(REGISTRY["rollup_sales_report"].fn(spark, sf_small))
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") <= 3  # orders + customer + nation, once each


@pytest.mark.parametrize(
    "name",
    ["dup_ngram_coverage", "word_pmi_pairs", "zorder_cluster_stats", "dedup_incremental", "overlap_pairs_binned"],
)
def test_new_hot_paths_have_no_python_eval(spark, sf_small, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["tpch_q3_segment_topk", "tpch_q10_returned_items"])
def test_tpch_topk_uses_take_ordered(spark, sf_small, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan


def test_tpch_q5_broadcasts_dims(spark, sf_small):
    plan = plan_of(REGISTRY["tpch_q5_regional_volume"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan


def test_tpch_q19_pushes_brand_disjunction_to_part_scan(spark, sf_small):
    # Catalyst derives p_brand IN (...) from the OR-of-ANDs and pushes it
    # into the part parquet scan
    plan = plan_of(REGISTRY["tpch_q19_disjunctive_revenue"].fn(spark, sf_small))
    pushed = [seg[:400] for seg in plan.split("PushedFilters")[1:]]
    assert any("p_brand" in seg for seg in pushed)
    assert any("l_quantity" in seg for seg in pushed)


def test_lateral_decorrelates_to_window_group_limit(spark, sf_small):
    plan = plan_of(REGISTRY["lateral_topk_customers"].fn(spark, sf_small))
    assert "WindowGroupLimit" in plan


def test_grouping_sets_is_single_expand(spark, sf_small):
    plan = plan_of(REGISTRY["grouping_sets_mixed"].fn(spark, sf_small))
    assert plan.count("Expand") >= 1
    # one Expand feeding one pair of partial/final aggs — not one agg per set
    assert plan.count("Expand") <= 2


@pytest.mark.parametrize(
    "name",
    sorted(n for n in REGISTRY if n.startswith("tpch_")) + ["ann_join_topk_per_query"],
)
def test_tpch_suite_has_no_python_eval(spark, sf_small, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- datapipe (PII / classifier / caps / sketches) ---------------------------


def test_pii_redact_is_narrow_jvm_map(spark, sf_small):
    # pure per-row regexp work: no shuffle, no Python evaluation
    plan = plan_of(REGISTRY["pii_redact_stats"].fn(spark, sf_small))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_classifier_score_single_shuffle_partial_agg(spark, sf_small):
    plan = plan_of(REGISTRY["classifier_linear_score"].fn(spark, sf_small))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # map-side partial aggregation before the shuffle
    assert "partial" in plan.lower()


def test_sketch_quantiles_broadcasts_estimates(spark, sf_small):
    # the per-source estimate row (tiny) must broadcast back to documents,
    # not shuffle the fact table
    plan = plan_of(REGISTRY["sketch_doclen_quantiles"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# -- curation (minhash contract / weighted sampling / SCD2 / entropy) --------


def test_weighted_sample_uses_take_ordered(spark, sf_small):
    # A-ES top-k must be per-partition heaps + driver merge, not a global sort
    plan = plan_of(REGISTRY["weighted_sample_aes"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_pushes_event_type_filter_and_single_shuffle(spark, sf_small):
    plan = plan_of(REGISTRY["scd2_value_intervals"].fn(spark, sf_small))
    pushed = [seg[:400] for seg in plan.split("PushedFilters")[1:]]
    assert any("event_type" in seg for seg in pushed)
    # one window pass = one hash-partition exchange on user_id
    assert plan.count("Exchange") == 1


@pytest.mark.parametrize(
    "name", ["minhash_jaccard_estimate", "token_entropy_by_source"]
)
def test_curation_hot_paths_have_no_python_eval(spark, sf_small, name):
    plan = plan_of(REGISTRY[name].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_estimate_never_plans_all_pairs(spark, sf_small):
    # candidate pairs must come from bucket enumeration, not a pair join
    plan = plan_of(REGISTRY["minhash_jaccard_estimate"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_funnel_is_monotone_and_jvm_only(spark, sf_small):
    df = REGISTRY["curation_pipeline_funnel"].fn(spark, sf_small)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    rows = {r["stage"]: r for r in df.collect()}
    assert [rows[s]["label"] for s in range(1, 6)] == [
        "ingest", "quality", "dedup", "decontaminate", "sample",
    ]
    for s in range(2, 6):  # every stage can only shrink the corpus
        assert rows[s]["n_docs"] <= rows[s - 1]["n_docs"]
        assert rows[s]["n_tokens"] <= rows[s - 1]["n_tokens"]
    assert rows[1]["n_docs"] > rows[5]["n_docs"] > 0  # stages actually filter


def test_minhash_estimate_accuracy_contract(spark, sf_small):
    """The estimation error the query carries in-frame must actually be
    small on average — 16 components give std ≈ sqrt(J(1-J)/16) ≤ 0.125,
    so the mean |est - exact| across candidate pairs should sit well
    under 0.15 (a broken hash or band arithmetic blows this up)."""
    rows = REGISTRY["minhash_jaccard_estimate"].fn(spark, sf_small).collect()
    assert len(rows) > 0
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.15, mean_err
    # and the estimate must correlate with truth: pairs with high exact
    # Jaccard should estimate higher on average than low-Jaccard pairs
    hi = [r["est_jaccard"] for r in rows if r["jaccard"] >= 0.5]
    lo = [r["est_jaccard"] for r in rows if r["jaccard"] < 0.2]
    if hi and lo:
        assert sum(hi) / len(hi) > sum(lo) / len(lo)


# --- round-4 late additions: substring spans / Bloom / BM25 ---------------


def test_substring_spans_windows_per_doc_no_python_eval(spark, sf_small):
    plan = plan_of(REGISTRY["dedup_substring_spans"].fn(spark, sf_small))
    assert "Window" in plan  # gaps-and-islands runs as a per-doc window
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bloom_membership_broadcasts_bitset(spark, sf_small):
    plan = plan_of(REGISTRY["sketch_bloom_membership"].fn(spark, sf_small))
    # the bitset (<= BLOOM_M rows) must broadcast to the probe side
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_uses_take_ordered_and_broadcast_terms(spark, sf_small):
    plan = plan_of(REGISTRY["bm25_topk_docs"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan  # top-20 is never a full sort
    assert "BroadcastHashJoin" in plan  # 3-term query list broadcasts
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_blocks_pairs_by_cluster(spark, sf_small):
    plan = plan_of(REGISTRY["semdedup_prune"].fn(spark, sf_small))
    # the in-cluster pair join must be a real equi-join on the cluster id,
    # never an all-pairs cartesian (the centroid broadcast is the only
    # nested-loop: a 1-row packed table)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_ivf_no_cartesian_no_python_eval(spark, sf_small):
    # benched in tier 2 since r14 (the at-scale path): the two-level
    # assignment must stay grouped-map + equi-join shaped — the only
    # nested-loops allowed are the one-row packed-centroid broadcasts,
    # and scoring stays inside the Arrow grouped-map (no row-at-a-time
    # Python eval)
    plan = plan_of(REGISTRY["semdedup_prune_ivf"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_dedup_batch_step_no_cartesian_no_python_eval(spark, sf_small):
    # the per-micro-batch plan of stream_dedup_minhash_lsh, pinned on
    # static frames (the streaming query's returned frame is a parquet
    # read of the decisions dir, so THIS is where its plan shape lives):
    # band-sig agg + (band, sig) LEFT equi-join PROBING the state (the
    # state side must never be re-aggregated wholesale) + per-doc min agg
    from spark_bam_spark.streaming import lsh_dedup_batch_step

    docs = table(spark, sf_small, "documents")
    state = spark.createDataFrame(
        [], "band int, sig bigint, owner_tag bigint, owner_id bigint"
    )
    decisions, changed = lsh_dedup_batch_step(docs, state)
    for df in (decisions, changed):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan_of(decisions)


def test_gopher_rules_single_shuffle_no_python_eval(spark, sf_small):
    plan = plan_of(REGISTRY["gopher_rules_filter"].fn(spark, sf_small))
    # every rule (incl. the in-row repetition gate) is a narrow JVM map;
    # the per-source agg is the only exchange beyond the fan-out repartition
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 4  # fan-out + partial/final agg (AQE reuse)


def test_data_split_assign_is_narrow_map_plus_agg(spark, sf_small):
    plan = plan_of(REGISTRY["data_split_assign"].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan  # map-side combined (partial + final)


def test_key_skew_report_windows_key_table_only(spark, sf_small):
    df = REGISTRY["key_skew_report"].fn(spark, sf_small)
    plan = plan_of(df)
    # the rank window runs over the per-key COUNT table, downstream of the
    # map-side-combined aggregate — never over the raw event stream
    assert "Window" in plan and "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert df.count() == 1


def test_bigram_logprob_no_python_eval_no_cartesian(spark, sf_small):
    plan = plan_of(REGISTRY["bigram_logprob_score"].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_strip_no_python_eval_no_extra_shuffle(spark, sf_small):
    plan = plan_of(REGISTRY["boilerplate_strip"].fn(spark, sf_small))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # reassembly happens in-row inside the per-doc agg: segment explode,
    # freq agg, join back, doc agg — no window, no cartesian
    assert "CartesianProduct" not in plan


def test_cdc_merge_uses_window_group_limit(spark, sf_small):
    plan = plan_of(REGISTRY["cdc_merge_latest"].fn(spark, sf_small))
    # rn = 1 must prune per-partition BEFORE the exchange
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_attribution_single_user_window(spark, sf_small):
    plan = plan_of(REGISTRY["attribution_last_touch"].fn(spark, sf_small))
    assert "Window" in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_score_eval_queries_no_python_eval(spark, sf_small):
    for name in ("score_decile_lift", "score_threshold_metrics"):
        plan = plan_of(REGISTRY[name].fn(spark, sf_small))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_bpe_merge_pairs_counts_over_vocab_with_take_ordered(spark, sf_small):
    plan = plan_of(REGISTRY["bpe_merge_pairs"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anomaly_zscore_single_bounded_window(spark, sf_small):
    plan = plan_of(REGISTRY["event_anomaly_zscore"].fn(spark, sf_small))
    assert plan.count("Window") == 1  # one bounded-frame pass, per user
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_single_agg_broadcast_anchor(spark, sf_small):
    plan = plan_of(REGISTRY["rfm_user_segments"].fn(spark, sf_small))
    assert "HashAggregate" in plan  # map-side combined user agg
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session_path_take_ordered_no_python_eval(spark, sf_small):
    plan = plan_of(REGISTRY["session_path_analysis"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_basket_pairs_within_order_take_ordered(spark, sf_small):
    plan = plan_of(REGISTRY["basket_part_pairs"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_interval_union_two_windows_one_shuffle_key(spark, sf_small):
    plan = plan_of(REGISTRY["interval_union_per_supplier"].fn(spark, sf_small))
    assert "Window" in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mom_growth_windows_month_table_only(spark, sf_small):
    plan = plan_of(REGISTRY["revenue_mom_growth"].fn(spark, sf_small))
    # the lag window runs over the aggregated month rows, not the facts
    assert "Window" in plan and "HashAggregate" in plan
