"""Corpus-curation operators (engine extension, round 4).

Primitives a 100 TB training-data pipeline runs between ingest and
packing, each shuffle-bounded and cross-engine deterministic:

- minhash_jaccard_estimate: signature-based similarity ESTIMATION joined
  against the exact shingle Jaccard — the differential contract that
  justifies trusting signatures instead of exact set intersection at scale.
- weighted_sample_aes: Efraimidis–Spirakis weighted top-k sampling with
  md5-derived uniforms — the deterministic, single-pass, distributed
  primitive behind temperature/weight-based data mixing.
- scd2_value_intervals: SCD-2 (CDC) validity-interval build over an event
  stream — one window shuffle, the standard "latest value + history"
  shape of warehouse ingestion (streaming twin: scd2_intervals_stream).
- token_entropy_by_source: token-level Shannon entropy, type-token ratio
  and hapax fraction per source — corpus-diversity diagnostics consumed
  by mixing/curation decisions (complements source_mixture_diversity's
  language-level entropy).
- curation_pipeline_funnel: the end-to-end quality → dedup →
  decontaminate → sample pipeline as ONE job with per-stage counts and
  no intermediate corpus materialized.
- snapshot_diff_incremental: added/removed/changed/unchanged audit
  between corpus snapshots by content hash.
- dataset_card: the one-row release summary (totals, diversity counts,
  duplicate rate) in a single pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_bam_spark.queries import register
from spark_bam_spark.queries.dedup import _SHINGLES_SQL, _shingles
from spark_bam_spark.tables import fan_out, table

# 16 INDEPENDENT minhash components: h_k(s) = md5(k || ':' || s).
# Kirsch-Mitzenmacher double hashing (dedup_minhash_lsh) is deliberately
# NOT used here: KM components h1 + k*h2 share the h1-dominated arg-min
# shingle, so "matching components" collapses toward all-or-nothing and
# the Jaccard estimate biases upward catastrophically (measured mean
# |est - exact| ~0.5).  KM is fine for LSH banding, where candidates are
# re-verified; estimation needs independent permutations, which cost one
# md5 per (component, shingle) — the price of an unbiased estimator.
N_COMPONENTS = 16


@register(
    "minhash_jaccard_estimate",
    headline2=True,
    tags=("dedup", "lsh", "contract"),
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS (
      SELECT doc_id, k.k AS k,
             MIN(('0x' || substr(md5(k.k || ':' || s), 1, 15))::BIGINT) AS sig
      FROM sh, (SELECT unnest(generate_series(0, {N_COMPONENTS - 1})) AS k) k
      GROUP BY doc_id, k.k
    ),
    matches AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_match
      FROM sig a JOIN sig b ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT m.doc_a, m.doc_b,
           CAST(m.n_match AS DOUBLE) / {N_COMPONENTS} AS est_jaccard,
           ROUND(CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common), 6) AS jaccard,
           ROUND(ABS(CAST(m.n_match AS DOUBLE) / {N_COMPONENTS}
                     - CAST(c.n_common AS DOUBLE) / (sa.n + sb.n - c.n_common)), 6) AS abs_err
    FROM matches m
    JOIN common c ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
    JOIN sizes sa ON sa.doc_id = m.doc_a
    JOIN sizes sb ON sb.doc_id = m.doc_b
    """,
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard estimation with an in-frame accuracy check:
    16-component minhash signatures estimate J(A,B) = matches/16 for every
    pair colliding on >= 2 components, joined against the EXACT shingle
    Jaccard so the error of the estimate is part of the result.

    This is the contract that lets a 100 TB dedup pipeline verify
    candidates from 128-byte signatures instead of re-intersecting
    shingle sets: the estimate's cost is per-doc (16 int64s), the exact
    side here is the audit.  Each component is an INDEPENDENT md5-seeded
    permutation (md5(k:s)) — see the module note for why KM double
    hashing, correct for LSH banding, biases estimation and is not used
    here.

    Scale shape: sigs = one min-agg pass over the shingle stream; the
    component match count is bucket-and-enumerate on (k, sig) — never a
    signature self-join (dedup.py rationale); the exact side is the
    posting-list enumeration of dedup_ngram_jaccard.  Every shuffle keys
    on a uniform hash.  A collision on component k implies the same
    arg-min shingle in both docs, so every estimated pair has >= 1 shared
    shingle and the audit join is inner.  est_jaccard = m/16 is an exact
    binary fraction; the exact Jaccard and the error are rounded to 6.
    """
    # the shingle stream feeds three consumers (signatures, set sizes,
    # posting lists); r17: aggregate it to POSTING LISTS (s -> sorted doc
    # ids) FIRST and checkpoint those — the grouped frame is ~10x smaller
    # than the (doc_id, s) stream (27,213 vs 260,388 rows at sf0.1), and
    # every minhash component is then computed ONCE PER DISTINCT SHINGLE
    # instead of once per occurrence: 16 md5+conv per posting row instead
    # of per (doc, s) row — 0.44M vs 4.2M hashes at sf0.1 (the corpus
    # shares each shingle across ~9.6 docs on average).  Results are
    # identical: h_k(s) is a pure function of s alone, and a doc's
    # component minimum over its shingle set equals the minimum over the
    # exploded postings that contain it (collect_set dedups, so postings
    # hold exactly the distinct (doc, s) pairs).  All three consumers read
    # the small checkpointed frame; the per-doc re-group of the exploded
    # hashes partial-aggregates map-side, so its exchange carries one
    # 16-long row per (doc, task), not the stream.
    # distinct=False (r17): collect_set already deduplicates doc ids per
    # shingle, so the posting frame is IDENTICAL (asserted row-for-row in
    # a one-off r17 micro-benchmark) without the distinct pass — the
    # (doc, s) stream now crosses ONE exchange (the groupBy) instead of
    # two (distinct + groupBy).  Locally a wash (min 0.72 vs 0.78 s —
    # both shuffles partial-aggregate map-side and neither is the local
    # bottleneck); taken for the plan shape: at 100 TB this halves the
    # number of corpus-stream shuffles in the build (guide §2.4).
    sh = _shingles(table(spark, sf_dir, "documents"), distinct=False)
    # The posting frame materializes AQE-coalesced (5 partitions at
    # sf0.1), so the 16-md5 consumer stage runs ~5-task.  Respreading it
    # was probed twice and REJECTED on measurement both times: post-ckpt
    # repartition(19) in r17 (the exchange re-ran inside every consumer,
    # +11% min) and pre-ckpt repartition(cores) in r18 (VERDICT r17 #4;
    # one exchange inside the materialization job, but the shuffle + the
    # 32-file checkpoint write cost more than the parallelized hash
    # stage saves: 2.08 → 2.71 s min, 3-round interleaved fresh-process
    # A/B).  The 5-partition layout is a BENCH-SCALE artifact of AQE's
    # 1 MB minPartitionSize — at any real scale the same size-driven
    # coalescing materializes the frame executor-wide on its own.
    # Executor-loss stance (r18, VERDICT r17 #4/#8): localCheckpoint is
    # NON-reliable — losing an executor invalidates the truncated
    # lineage and fails the job, which then simply re-runs (the frame is
    # a pure function of the inputs, rebuilt fresh per invocation).  At
    # 100 TB deployment the same materialization would use
    # persist(DISK_ONLY_2)/reliable checkpointing if recompute-on-retry
    # is too expensive; the footprint itself is bounded — the posting
    # frame is ~10x SMALLER than the (doc, s) stream it aggregates
    # (30x-tile probe in OPTIMIZATION_r18.md bounds the growth curve).
    post = (
        sh.groupBy("s")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .localCheckpoint(eager=True)
    )
    # parsed-expression construction (r17, guide §5/§7.3): the previous
    # shape built the 16 component hashes as nested Column objects (~100
    # py4j round trips) and unpivoted via 16 per-component min aliases +
    # stack().  One selectExpr / one array-of-mins aggregate / posexplode
    # emit the IDENTICAL values and (k, sig) rows — md5(concat_ws(':',k,s))
    # per component, min per doc, k = component index — with the driver
    # chatter collapsed to three parsed expressions (measured −10% on the
    # full query in a one-off r17 micro-benchmark; result identity
    # asserted at sf0.01 + sf0.1 in the same micro).
    comp_sql = [
        f"cast(conv(substring(md5(concat_ws(':', {k}, s)), 1, 15), 16, 10) as bigint) as h{k}"
        for k in range(N_COMPONENTS)
    ]
    hashed = post.selectExpr("ids", *comp_sql)
    mins_sql = ", ".join(f"min(h{k})" for k in range(N_COMPONENTS))
    sig_rows = (
        hashed.selectExpr(
            "explode(ids) as doc_id", *[f"h{k}" for k in range(N_COMPONENTS)]
        )
        .groupBy("doc_id")
        .agg(F.expr(f"array({mins_sql})").alias("sig_arr"))
        .selectExpr("doc_id", "posexplode(sig_arr) as (k, sig)")
    )
    pair_enum = F.expr(
        "flatten(transform(ids, (a, i) ->"
        " transform(slice(ids, i + 2, size(ids)), b -> struct(a AS doc_a, b AS doc_b))))"
    )
    matches = (
        sig_rows.groupBy("k", "sig")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pair_enum).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_match"))
        .filter(F.col("n_match") >= 2)
    )
    sizes = (
        post.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    common = (
        post.filter(F.size("ids") > 1)
        .select(F.explode(pair_enum).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = F.broadcast(sizes.alias("sa"))
    sb = F.broadcast(sizes.alias("sb"))
    est = F.col("n_match").cast("double") / N_COMPONENTS
    jac = F.col("n_common").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        matches.join(common, ["doc_a", "doc_b"])
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(est - jac), 6).alias("abs_err"),
        )
    )


SAMPLE_K = 20


@register(
    "weighted_sample_aes",
    tags=("mlprep", "sampling"),
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
                / 4503599627370496.0) / n_chars AS sel_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, ROUND(sel_key, 10) AS sel_key
    FROM keyed
    ORDER BY sel_key DESC, doc_id
    LIMIT {SAMPLE_K}
    """,
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each document draws a deterministic uniform
    u = (md5_52bits + 0.5) / 2^52 and a selection key ln(u) / weight
    (monotone in u^(1/w)); the global top-k by key IS a weighted sample.

    This is the primitive behind temperature-based source mixing at
    100 TB: one narrow map computes keys, and the top-k is a
    TakeOrderedAndProject — per-partition heaps merged on the driver, no
    global sort, no shuffle of the corpus.  Deterministic across engines
    because the uniforms come from md5, not an RNG: md5 of the decimal
    doc_id string, top 13 hex chars (52 bits) — keys are distinct with
    overwhelming probability, and doc_id breaks the residual tie.
    Weight = n_chars (longer docs proportionally likelier), zero-weight
    rows excluded on both engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    keyed = d.select(
        "doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("sel_key")
    )
    return (
        keyed.orderBy(F.desc("sel_key"), "doc_id")
        .limit(SAMPLE_K)
        .select("doc_id", "source", "n_chars", F.round("sel_key", 10).alias("sel_key"))
    )


@register(
    "scd2_value_intervals",
    tags=("events", "cdc", "window"),
    oracle="""
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(LEAD(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build (the CDC merge shape): the
    purchase-event stream becomes per-user validity intervals — each
    event's value holds from its timestamp until the next event's
    (valid_to NULL = current row).

    One shuffle, keyed on user_id, computing version / valid_to /
    is_current in a single window pass; at warehouse scale this is the
    nightly "close old rows, open new" merge expressed as a window
    instead of a MERGE self-join, and the filter on event_type is pushed
    into the parquet scan.  (event_id tie-breaks equal timestamps so the
    intervals are total-ordered; timestamps are emitted as formatted UTC
    strings for cross-engine stability.)"""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        "value",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w), fmt).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "token_entropy_by_source",
    tags=("text", "stats"),
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
    scored AS (
      SELECT source, c,
             CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY source) AS p
      FROM freq
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_frac,
           ROUND(-SUM(p * ln(p)), 6) AS token_entropy
    FROM scored GROUP BY source
    """,
)
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution diagnostics per source: unigram Shannon entropy,
    type-token ratio, and hapax-legomena fraction — the lexical-diversity
    numbers a curation step reads next to source_mixture_diversity's
    language entropy when setting mixture weights (a low-entropy source
    is templated/boilerplate; a high-hapax source is noisy).

    Scale shape: one explode + hash-agg on the uniform (source, token)
    key with map-side partials, then a per-source window + agg over the
    FREQUENCY table (vocab-sized, orders of magnitude smaller than the
    corpus).  Entropy terms are doubles summed then rounded to 6, which
    absorbs float-sum ordering wobble under AQE (unigram_logprob_score
    precedent)."""
    d = fan_out(table(spark, sf_dir, "documents").select("source", "text"))
    toks = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("source", "w").agg(F.count("*").alias("c"))
    p = F.col("c").cast("double") / F.sum("c").over(Window.partitionBy("source"))
    scored = freq.select("source", "c", (-p * F.log(p)).alias("ent_term"))
    return scored.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("hapax_frac"),
        F.round(F.sum("ent_term"), 6).alias("token_entropy"),
    )


BENCH_DOC_MAX = 20  # doc_id < 20 stands in for the held-out benchmark set
DECON_N = 5


@register(
    "curation_pipeline_funnel",
    headline2=True,
    tags=("pipeline", "dedup", "decontamination", "sampling"),
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text, n_chars FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id % 7 = 0
    ),
    grams AS (
      SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(w) - {DECON_N - 1}, 0)),
                      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
      )
    ),
    bench AS (SELECT DISTINCT s FROM grams WHERE doc_id < {BENCH_DOC_MAX}),
    contaminated AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench USING (s)
                     WHERE g.doc_id >= {BENCH_DOC_MAX}),
    flagged AS (
      SELECT c.doc_id, len(string_split(text, ' ')) AS n_words,
             len(string_split(text, ' ')) BETWEEN 20 AND 1000
               AND CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                   / len(string_split(text, ' ')) BETWEEN 3 AND 12 AS q,
             MIN(CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                       AND CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                           / len(string_split(text, ' ')) BETWEEN 3 AND 12
                      THEN c.doc_id END)
               OVER (PARTITION BY md5(text)) AS min_q_doc,
             c.doc_id IN (SELECT doc_id FROM contaminated)
               OR c.doc_id < {BENCH_DOC_MAX} AS contam,
             ascii(substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 1)) % 2 = 0 AS samp
      FROM corpus c
    ),
    staged AS (
      SELECT n_words,
             CASE WHEN NOT q THEN 1
                  WHEN doc_id != min_q_doc THEN 2
                  WHEN contam THEN 3
                  WHEN NOT samp THEN 4
                  ELSE 5 END AS reached
      FROM flagged
    )
    SELECT s.stage, s.label,
           CAST(COUNT(*) FILTER (reached >= s.stage) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_words) FILTER (reached >= s.stage), 0) AS BIGINT) AS n_tokens
    FROM staged, (VALUES (1, 'ingest'), (2, 'quality'), (3, 'dedup'),
                         (4, 'decontaminate'), (5, 'sample')) s(stage, label)
    GROUP BY s.stage, s.label
    """,
)
def curation_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as one DataFrame job: ingest (with
    a deterministic re-ingest planting exact duplicates) -> scalar quality
    gate (length + mean-word-length) -> exact dedup (survivor = first
    quality-passing doc per content hash) -> benchmark decontamination
    (drop docs sharing a {DECON_N}-gram with the doc_id < {BENCH_DOC_MAX}
    eval set) -> deterministic 50% sample — reported as a funnel of
    documents and tokens surviving each stage.

    The composition materializes NO intermediate corpus: every document
    gets a 'furthest stage reached' label computed from one window (min
    qualifying doc per md5(text) — dedup without a pre-filter), one
    contamination join, and scalar flags; the funnel is then ONE
    aggregation unpivoted to stage rows.  At 100 TB the dominant costs
    are one corpus shuffle (the content-hash window) and one gram join
    whose bench side broadcasts; the extra parquet scans the branches
    plan are the cheap part — what a staged pipeline would instead
    write and re-read between stages is petabytes.
    """
    raw = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    d = fan_out(raw)
    _plant = lambda src: src.unionAll(  # noqa: E731 — one-expression twin builder
        src.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "n_chars"
        )
    )
    corpus = _plant(d)
    # un-fanned twin for the tiny bench-gram broadcast build (r18, same
    # §2.4 pattern as mlprep's c0): the filter/union commute with the
    # insurance repartition, so the bench side is row-identical but its
    # broadcast build drops the fan_out exchange (the doc_id <
    # BENCH_DOC_MAX pushdown already reduced its data to ~20 docs — the
    # exchange was a pure stage barrier)
    raw_corpus = _plant(raw)

    n_words = F.size(F.split("text", " "))
    mean_wlen = (F.col("n_chars") - (n_words - 1)).cast("double") / n_words
    q = n_words.between(20, 1000) & mean_wlen.between(3, 12)

    def _grams(src):
        # inline if() short-doc guard: sequence(1, 0) is descending in
        # Spark (slice start 0 is an ANSI error for a <DECON_N-word doc)
        # — see dedup._shingles.  r17: bind w = split(text) ONCE per row
        # (the _shingles/decontamination discipline) instead of inline —
        # the lambda re-evaluated split(text, ' ') per gram position,
        # an O(words²) character-work term per document (transform
        # lambdas are interpreted; loop-invariant subexpressions are not
        # hoisted).  Grams are identical (symmetric diff 0, oracle
        # re-verified); the transform itself stays inline in the explode
        # so InferFiltersFromGenerate cannot expand it below the
        # exchange (see _shingles).
        return src.select("doc_id", F.split("text", " ").alias("w")).select(
            "doc_id",
            F.explode(
                F.expr(
                    f"if(size(w) < {DECON_N}, array(),"
                    f" transform(sequence(1, size(w) - {DECON_N - 1}),"
                    " i -> concat_ws(' ', slice(w, i, 5))))"
                )
            ).alias("s"),
        )

    # NO shared .distinct() (r17): both consumers deduplicate
    # themselves (bench distincts on s; the contamination branch
    # distincts on doc_id after the join), so the shared distinct was
    # a redundant full exchange of the gram stream — the contamination
    # branch flows straight into the broadcast join with no shuffle at
    # all.  Contaminated-doc set proven identical and the branch
    # measured 1.49 → 1.00 s (one-off r17 micro-benchmark,
    # interleaved min-of-5).  Join multiplicity from intra-doc repeated
    # grams is absorbed by the final distinct on doc_id.
    grams = _grams(corpus)
    bench = _grams(raw_corpus).filter(F.col("doc_id") < BENCH_DOC_MAX).select("s").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") >= BENCH_DOC_MAX)
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )

    min_q_doc = F.min(F.when(q, F.col("doc_id"))).over(
        Window.partitionBy(F.md5("text"))
    )
    samp = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 2 == 0
    flagged = (
        corpus.select(
            "doc_id",
            n_words.alias("n_words"),
            q.alias("q"),
            min_q_doc.alias("min_q_doc"),
            samp.alias("samp"),
        )
        .join(contaminated, "doc_id", "left")
        .select(
            "n_words",
            "q",
            (F.col("doc_id") == F.col("min_q_doc")).alias("is_survivor"),
            (F.coalesce("hit", F.lit(False)) | (F.col("doc_id") < BENCH_DOC_MAX)).alias(
                "contam"
            ),
            "samp",
        )
    )
    reached = (
        F.when(~F.col("q"), 1)
        .when(~F.col("is_survivor"), 2)
        .when(F.col("contam"), 3)
        .when(~F.col("samp"), 4)
        .otherwise(5)
    )
    agg = flagged.select(reached.alias("reached"), "n_words").agg(
        *[
            F.count(F.when(F.col("reached") >= s, 1)).alias(f"d{s}")
            for s in range(1, 6)
        ],
        *[
            F.coalesce(F.sum(F.when(F.col("reached") >= s, F.col("n_words"))), F.lit(0)).alias(
                f"t{s}"
            )
            for s in range(1, 6)
        ],
    )
    labels = {1: "ingest", 2: "quality", 3: "dedup", 4: "decontaminate", 5: "sample"}
    stack_args = ", ".join(f"{s}, '{labels[s]}', d{s}, t{s}" for s in range(1, 6))
    return agg.select(
        F.expr(f"stack(5, {stack_args}) AS (stage, label, n_docs, n_tokens)")
    ).select(
        "stage", "label", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


@register(
    "snapshot_diff_incremental",
    tags=("pipeline", "setop", "cdc"),
    oracle="""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
      FROM documents WHERE doc_id % 13 != 0
      UNION ALL
      SELECT doc_id + 3000000, text || ' new' FROM documents WHERE doc_id % 11 = 0
    ),
    j AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN md5(a.text) != md5(b.text) THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(len(string_split(a.text, ' ')), 0) AS t1,
             COALESCE(len(string_split(b.text, ' ')), 0) AS t2
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t1) AS BIGINT) AS tokens_v1,
           CAST(SUM(t2) AS BIGINT) AS tokens_v2
    FROM j GROUP BY status
    """,
)
def snapshot_diff_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the audit step of an incremental update:
    full-outer join v1 against v2 (a deterministic mutation: every 13th
    doc removed, every 5th revised, every 11th re-added under a new id)
    and classify each document added / removed / changed / unchanged by
    content hash, with token totals on both sides.

    At 100 TB both snapshots live bucketed by doc_id, so the full-outer
    join is exchange-free; content comparison is hash-vs-hash (16 bytes),
    never text-vs-text; and the 4-row report is what gates promotion of
    the new snapshot (an unexpected 'removed' spike = a broken upstream
    feed).  One shuffle here (unbucketed parquet), all JVM expressions."""
    v1 = table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        v1.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" rev2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionAll(
            v1.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"),
                F.concat("text", F.lit(" new")).alias("text"),
            )
        )
    )
    a, b = v1.alias("a"), v2.alias("b")
    j = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.md5("a.text") != F.md5("b.text"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.size(F.split("a.text", " ")), F.lit(0)).alias("t1"),
        F.coalesce(F.size(F.split("b.text", " ")), F.lit(0)).alias("t2"),
    )
    return j.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("t1").cast("bigint").alias("tokens_v1"),
        F.sum("t2").cast("bigint").alias("tokens_v2"),
    )


@register(
    "dataset_card",
    tags=("pipeline", "stats", "report"),
    oracle="""
    WITH base AS (
      SELECT doc_id, source, lang, n_chars,
             len(string_split(text, ' ')) AS n_words,
             md5(text) AS h
      FROM documents
    ),
    dup AS (SELECT COUNT(*) - COUNT(DISTINCT h) AS n_dup FROM base),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(MIN(n_words) AS BIGINT) AS min_words,
             CAST(MAX(n_words) AS BIGINT) AS max_words,
             CAST(SUM(n_words) // COUNT(*) AS BIGINT) AS mean_words_floor
      FROM base
    )
    SELECT agg.*, CAST(dup.n_dup AS BIGINT) AS n_exact_dups,
           ROUND(CAST(dup.n_dup AS DOUBLE) / agg.n_docs, 6) AS dup_rate
    FROM agg, dup
    """,
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the summary block a corpus release ships
    with — document/token/char totals, source and language counts,
    word-length range, and the exact-duplicate rate — computed in a
    single pass (one scan, partial aggs map-side; the distinct counts
    shuffle 16-byte hashes, never text).

    At 100 TB this is the cheapest full-corpus statement one can make
    (every number is a one-shuffle aggregate), and it is the artifact
    downstream consumers diff between releases next to
    snapshot_diff_incremental's row-level view."""
    base = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_words"),
        F.md5("text").alias("h"),
    )
    agg = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.min("n_words").cast("bigint").alias("min_words"),
        F.max("n_words").cast("bigint").alias("max_words"),
        F.expr("sum(n_words) div count(*)").cast("bigint").alias("mean_words_floor"),
        (F.count("*") - F.countDistinct("h")).cast("bigint").alias("n_exact_dups"),
    )
    return agg.select(
        "*",
        F.round(
            F.try_divide(F.col("n_exact_dups").cast("double"), F.col("n_docs")), 6
        ).alias("dup_rate"),
    )


PER_SOURCE_K = 3


@register(
    "weighted_sample_per_source",
    tags=("mlprep", "sampling", "window"),
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
                / 4503599627370496.0) / n_chars AS sel_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT source, doc_id, n_chars, ROUND(sel_key, 10) AS sel_key,
           CAST(rn AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY sel_key DESC, doc_id) AS rn
          FROM keyed)
    WHERE rn <= {PER_SOURCE_K}
    """,
)
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sampling: the A-ES selection key of
    weighted_sample_aes, but top-{PER_SOURCE_K} PER SOURCE — the shape a
    mixing step actually runs (every source contributes its quota,
    weights bias within the stratum).

    Scale shape differs from the global variant on purpose: a window
    rank per source instead of a global top-k, which Spark executes as
    WindowGroupLimit — per-partition group-local heaps prune to k rows
    BEFORE the exchange, so the shuffle carries at most k rows per
    (partition, source) no matter the corpus size.  Same md5-derived
    deterministic uniforms; ties impossible at double precision."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    keyed = d.select(
        "source", "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("sel_key")
    )
    w = Window.partitionBy("source").orderBy(F.desc("sel_key"), "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= PER_SOURCE_K)
        .select("source", "doc_id", "n_chars", F.round("sel_key", 10).alias("sel_key"), "rank")
    )


@register(
    "data_split_assign",
    tags=("pipeline", "sampling"),
    oracle="""
    WITH assigned AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tok,
             ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 10 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM assigned
    GROUP BY source, split
    """,
)
def data_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by hashing the
    document id into 10 md5 buckets — the split step every training-data
    pipeline needs, reported as per-(source, split) doc and token counts.
    Hash-bucket assignment (vs random) is reproducible across reruns and
    engines, stable under corpus growth (a doc never changes split when
    new docs arrive), and needs no global state.

    Scale shape: the assignment is a narrow per-row expression on the
    scan; the only shuffle is the final (source, split) agg, map-side
    combined into at most sources x 3 groups. A salted prefix in the
    hash input ('split:') decorrelates the split from every other
    md5(doc_id)-derived decision in the pipeline (sampling keys,
    uniforms) so joint selections stay unbiased."""
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id"))), 1, 15), 16, 10).cast(
            "long"
        )
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split")
    )
    return (
        d.select("source", split, F.size(F.split("text", " ")).alias("n_tok"))
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "cdc_merge_latest",
    tags=("events", "cdc", "pipeline"),
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events
    )
    SELECT user_id,
           event_type AS last_op,
           value AS last_value,
           CAST(ts_us AS BIGINT) AS last_ts_us,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-wins MERGE: collapse a change feed to current state —
    one surviving row per key carrying the newest change, with keys whose
    newest change is a delete dropped entirely (events stand in for the
    feed: (user_id, ts, event_id) orders changes totally; 'error' plays
    the delete op). The companion to scd2_value_intervals: SCD-2 keeps
    history, this produces the type-1 current snapshot a MERGE INTO
    target would hold.

    Scale shape: the rank and the change count deliberately take
    DIFFERENT paths. The rank-only window lets Spark plan the rn=1
    predicate as WindowGroupLimit — per-partition heaps prune to one
    row per key BEFORE the exchange, so the window shuffle carries
    ~|keys| rows, not the feed (a count riding the same window would
    force every row through the sort). The per-key change count comes
    from a map-side-combined aggregate instead and joins back on the
    already-co-partitioned key. Timestamps exported as unix
    microseconds (integer-exact in both engines)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = ev.select(
        "user_id",
        "event_type",
        "value",
        # NTZ -> LTZ is exact under the session's pinned UTC zone (the
        # ADVICE-r3 convention; see streaming_batch.py)
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        F.row_number().over(w).alias("rn"),
    )
    counts = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n_changes"))
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .join(counts, "user_id")
        .select(
            "user_id",
            F.col("event_type").alias("last_op"),
            F.col("value").alias("last_value"),
            F.col("ts_us").cast("bigint").alias("last_ts_us"),
            "n_changes",
        )
    )
