"""Operator/query registry.

Every operator the engine claims (SURVEY.md §2) is registered here as a
named query: a callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL string the DuckDB
oracle runs over the same parquet tables. The driver's correctness gate
compares the two (row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- floating-point aggregates are computed in DECIMAL and cast to DOUBLE at
  the end (exact, order-independent, identical across engines), or rounded;
- timestamps in outputs are cast to DATE or formatted strings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    headline: bool = False  # included in bench.py timings (tier 1, r1 set)
    headline2: bool = False  # bench tier 2: the LLM-pipeline surface
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Evidentiary class of the oracle — graded differently by COVERAGE.md:
    #   "derived":   the SQL recomputes the result independently from the
    #                input tables (full derivation grade — the default);
    #   "golden":    the SQL replays a committed dump (tools/gen_bam_golden
    #                or an independent renderer); regression-pin grade
    #                unless the dump itself came from an independent
    #                implementation (see each query's docstring);
    #   "invariant": the SQL checks invariants of the result (e.g. timing
    #                distributions where values are non-deterministic).
    oracle_kind: str = "derived"


REGISTRY: dict[str, QuerySpec] = {}


def ensure_session_ready(spark: SparkSession) -> None:
    """Make an externally-provided SparkSession usable by our queries:
    runtime-settable SQL confs + ship the package to Python workers.
    (The driver builds its own session; we cannot rely on our factory.)"""
    if getattr(spark, "_spark_bam_spark_ready", False):
        return
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        # Pin the unqualified `timestamp` type to LTZ so casts used for
        # epoch arithmetic (unix_micros) resolve the same way regardless
        # of host-session conf; NTZ→LTZ is exact under the UTC timezone.
        ("spark.sql.timestampType", "TIMESTAMP_LTZ"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # non-runtime-settable in this deployment; proceed
    try:
        from spark_bam_spark.session import _ship_package

        _ship_package(spark)
    except Exception:
        pass
    spark._spark_bam_spark_ready = True


# NOTE (r17): a registry-level DataFrame cache (return the same built
# plan object on repeat calls) was prototyped and REVERTED: re-collecting
# the same physical plan object lets Spark reuse its shuffle files
# (skipped map stages), so a bench repetition stops re-computing the
# heavy stages — effectively result-caching intermediates, which the
# bench rules forbid.  Query functions must return a FRESH DataFrame per
# call; only metadata-level caches are allowed (tables._TABLE_CACHE for
# schema inference, tables._FAN_OUT_MEMO for the repartition decision —
# every execution still scans parquet and re-runs every shuffle).


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    headline: bool = False,
    headline2: bool = False,
    tags: tuple[str, ...] = (),
    oracle_kind: str = "derived",
) -> Callable[[QueryFn], QueryFn]:
    if oracle_kind not in ("derived", "golden", "invariant"):
        raise ValueError(f"unknown oracle_kind {oracle_kind!r}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_ready(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            fn=wrapped,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            headline=headline,
            headline2=headline2,
            tags=tags,
            oracle_kind=oracle_kind,
        )
        return fn
    return deco


# The external correctness driver verifies the FIRST 50 entries of the dict
# returned by load_all() each round, in insertion order.  To get every
# registered query driver-verified across rounds, load_all() orders the
# registry programmatically from round history (CORRECTNESS_r*.json at the
# repo root): names with no passing driver row yet come first, everything
# already verified after.  _DRIVER_CHECK_PRIORITY pins the relative order of
# the oldest verification debt so a query registered later can never displace
# an older unverified one out of the 50-slot window.
#
# Round history: r1-r5 cleared the entire backlog (192/192 driver-checked,
# union over rounds).  Round 6 then UPGRADED the 15 rows-only queries to
# hash-grade oracles — which intentionally invalidates their historical
# rows-only greens (driver_green_names only counts a rows-only row for a
# query that still ships no oracle) — and added semdedup_prune_fast +
# bam_rewrite_roundtrip, so the r6 window re-verifies those 17 at hash
# grade first, then re-runs 33 greens in registration order.
#
# The tuple below is retained as the stable relative order of the old
# debt (the r4 backlog); upgraded/new names not in it simply sort by
# registration order within the never-green group.
_DRIVER_CHECK_PRIORITY: tuple[str, ...] = (
    # -- oracle-bearing, never driver-checked (36) --------------------------
    # scalar functions (SURVEY §2.8 — zero driver-green rows ever)
    "pos_codec_roundtrip",
    "interval_parse",
    "date_monthly_orders",
    "json_extract_events",
    "array_map_functions",
    # UDF surface (SURVEY §2.10 — zero driver-green rows ever)
    "pandas_udaf_geomean",
    "udtf_explode_intervals",
    "grouped_map_gap_stats",
    # similarity tail (r3 window overflow)
    "cosine_topk_ivf",
    "cosine_topk_ivf_pruned",
    "ann_recall_eval",
    "ann_join_topk_per_query",
    # BAM truth-parquet oracles (format core — end-to-end decode hash)
    "bam_scan_reads",
    "bam_scan_50k",
    "bam_scan_1m",
    "bam_interval_pushdown",
    "bam_blocks_metadata",
    "bam_check_blocks",
    "sam_scan_reads",
    "bam_count_reads",
    "bam_compression_ratio",
    "bam_idxstats",
    # r2 hash-fix confirmations + late oracle upgrade
    "boilerplate_segments",
    "pagerank_bipartite",
    "approx_count_distinct",
    # datapipe (PII / classifier / caps / sketches)
    "pii_redact_stats",
    "classifier_linear_score",
    "source_cap_filter",
    "sketch_doclen_quantiles",
    "sketch_distinct_users_daily",
    "sketch_user_overlap",
    # late TPC-H adaptations
    "tpch_q4_priority_check",
    "tpch_q6_forecast_revenue",
    "tpch_q13_order_distribution",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    # -- genuinely rows-only, never driver-checked (12) ---------------------
    "bam_check_confusion",
    "bam_compute_splits",
    "bam_full_check",
    "bam_time_load",
    "bam_check_three_way",
    "bam_full_check_cdf",
    "bam_close_calls",
    "bam_fp_metadata",
    "compare_splits_stats",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_ann_pipeline",
    # -- new in r4 (never driver-checked; the two §2.9 twins take the two
    # spare window slots; everything below plus the unpinned late-r4
    # additions — curation/PQ/count-min/funnel/substring-spans/Bloom/BM25/
    # SemDeDup/Gopher/splits/skew/bigram/CDC/attribution/score-eval/BPE,
    # ordered by registration — rotates into the r5 window: 38 names
    # remain never-green after the r4 run, fitting with 12 slots spare) ---
    "stream_stream_click_purchase",
    "streaming_dedup_recovery",
    "stratified_sample_by_lang",
    "url_host_normalize",
    "source_mixture_diversity",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q20_promotion_suppliers",
    "tpch_q21_waiting_suppliers",
)


# Queries whose CODE changed after their last driver-green row — force them
# back into the verification window ahead of untouched greens so the driver
# re-hashes the new behavior.  Maintained per round; clear entries once the
# next CORRECTNESS file records their fresh pass.  (r6's two entries —
# lsh_quality_eval, triangle_count_candidates — went green in r6 and are
# cleared.)
_FORCE_RECHECK: tuple[str, ...] = (
    # r18: all 9 r17 entries (minhash_jaccard_estimate, kmeans_lloyd,
    # semdedup_prune, semdedup_prune_fast, semdedup_prune_ivf,
    # ivf_kmeans_probe, curation_pipeline_funnel, text_repetition,
    # topk_revenue_orders) went hash-green in CORRECTNESS_r17 and are
    # cleared per convention (VERDICT r17 gate notes).
    #
    # bm25_topk_docs: its executed plan was rebuilt around the tf
    # localCheckpoint in r17 (text.py) but it was NOT queued for a driver
    # re-hash that round (VERDICT r17 "What's wrong" #2 / order #2) — only
    # local verification exists (454/454 two-tile sweep + identical
    # top-20).  Queue it now so CORRECTNESS_r18 re-hashes the checkpoint
    # shape:
    "bm25_topk_docs",
    # r18 changes that must be re-hashed by the driver (each verified
    # locally against the full DuckDB oracle at sf0.001/sf0.01/sf0.1
    # before landing):
    #
    # the k-means/semdedup init and scalar subtrees (c0, adaptive-K
    # count, the IVF probe's query vector) now derive from the UN-fanned
    # scan/union — identical rows (filter/count commute with the
    # insurance repartition), new plans (4-6 fewer Exchanges; vec_id
    # predicates pushed into the parquet scan):
    "kmeans_lloyd",
    "ivf_kmeans_probe",
    "semdedup_prune",
    "semdedup_prune_fast",
    "semdedup_prune_ivf",
    # interval_overlap_join: events bucketed to the day grid and
    # equi-joined (BroadcastHashJoin) with the original range predicate
    # kept as the residual — row-identical by the grid-alignment
    # argument in relational.py:
    "interval_overlap_join",
    # dedup_substring_spans: the hash-probe side reads the un-fanned
    # scan and splits AFTER the broadcast join (same split(text), same
    # rows, survivors-only tokenize):
    "dedup_substring_spans",
    # curation_pipeline_funnel: the tiny bench-gram broadcast side
    # derives from an un-fanned corpus twin (filter/union commute with
    # the insurance repartition; identical gram set, 24→20 Exchanges):
    "curation_pipeline_funnel",
)


def driver_green_rounds() -> dict[str, int]:
    """Map name -> LATEST round with a passing driver row, over every
    CORRECTNESS_r*.json shipped at the repo root.  A row passes when
    rows+schema matched, the value hash matched (when an oracle existed),
    and no error was recorded.  A query that currently ships NO oracle
    (genuinely non-SQL-expressible) can never do better than the driver's
    rows-only check, so a recorded rows-only row (``err == 'no_oracle'``
    with >0 rows) also counts — otherwise those names would occupy
    verification-window slots forever, crowding out queries that still
    need a first hash check.  Missing or unreadable history files
    contribute nothing (fresh checkouts order the whole registry as
    unverified, which is the conservative choice)."""
    import json
    import re
    from pathlib import Path

    # the rows-only clause consults REGISTRY — populate it so the result
    # does not depend on whether the caller already ran load_all()
    _import_query_modules()

    green: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            records = json.loads(path.read_text())
        except Exception:
            continue
        if not isinstance(records, dict):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            if (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match", True)
                and not rec.get("err")
            ) or (
                rec.get("err") == "no_oracle"
                and (rec.get("spark_rows") or 0) > 0
                and name in REGISTRY
                and REGISTRY[name].oracle is None
                # rows-only is the strongest check this query can ever get
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def driver_green_names() -> set[str]:
    """Names with a passing driver row in any round (see
    :func:`driver_green_rounds` for the pass criteria)."""
    return set(driver_green_rounds())


def _import_query_modules() -> None:
    from spark_bam_spark.queries import (  # noqa: F401
        bam_qa,
        curation,
        datapipe,
        dedup,
        graph,
        mlprep,
        multimodal_q,
        relational,
        scalar_fn,
        similarity,
        streaming_batch,
        text,
        tpch,
        udf_surface,
    )


def load_all() -> dict[str, QuerySpec]:
    """Import every query module so REGISTRY is fully populated; return it
    ordered for the driver's 50-slot verification window (see note above):
    never-driver-green names first (pinned debt order, then registration
    order), then code-changed greens (_FORCE_RECHECK), then every verified
    name by EVIDENCE AGE — oldest last-green round first, headline/bench
    queries ahead of same-age peers — so with zero debt the window rotates
    stale evidence automatically: each round re-greens the ~44+ queries
    whose hash row is oldest, and a fresh pass pushes a name to the back
    of the rotation without any manual list maintenance."""
    _import_query_modules()
    green = driver_green_rounds()
    pinned = {name: i for i, name in enumerate(_DRIVER_CHECK_PRIORITY)}
    reg_idx = {name: i for i, name in enumerate(REGISTRY)}

    def sort_key(name: str) -> tuple[int, int, int, int]:
        if name not in green:
            if name in pinned:
                return (0, 0, pinned[name], 0)
            return (1, 0, reg_idx[name], 0)
        if name in _FORCE_RECHECK:
            return (2, 0, reg_idx[name], 0)
        spec = REGISTRY[name]
        bench = 0 if (spec.headline or spec.headline2) else 1
        return (3, green[name], bench, reg_idx[name])

    ordered = sorted(REGISTRY, key=sort_key)
    return {n: REGISTRY[n] for n in ordered}
