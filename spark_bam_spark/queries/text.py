"""Text-analysis operators over ``documents`` (engine extension).

All hot-path expressions are built-in JVM functions (split/regexp/md5) —
no Python UDFs. Ratios divide exact integer counts, so results are
bit-identical with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_bam_spark.queries import register
from spark_bam_spark.tables import fan_out, table

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@register(
    "text_token_stats",
    tags=("text",),
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY source
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + corpus stats per source."""
    d = fan_out(table(spark, sf_dir, "documents"))
    ntok = F.size(F.split("text", " "))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        (F.sum(ntok).cast("double") / F.count("*")).alias("avg_tokens"),
    )


@register(
    "text_quality_score",
    tags=("text",),
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(lower(text), ' '),
                                x -> x IN {_SW_SQL})) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count, mean token length, stopword ratio.

    The standard pre-training quality gates (C4/Gopher-style); each is a
    narrow per-row expression — no shuffle at all, scales linearly."""
    d = fan_out(table(spark, sf_dir, "documents"))
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    ntok = F.size(F.split("text", " "))
    nstop = F.expr(f"size(filter(split(lower(text), ' '), x -> x IN ({sw})))")
    return d.select(
        "doc_id",
        ntok.cast("long").alias("n_tokens"),
        (F.col("n_chars").cast("double") / ntok).alias("avg_token_len"),
        (nstop.cast("double") / ntok).alias("stopword_ratio"),
    )


@register(
    "text_fingerprint",
    tags=("text",),
    oracle="""
    SELECT doc_id, md5(substr(lower(text), 1, 128)) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash of the normalized 128-char prefix —
    the cheap first-pass near-dup key (head dedup)."""
    d = fan_out(table(spark, sf_dir, "documents"))
    return d.select("doc_id", F.md5(F.substring(F.lower("text"), 1, 128)).alias("fingerprint"))


@register(
    "text_lang_confusion",
    tags=("text",),
    oracle=f"""
    SELECT lang,
           (CAST(len(list_filter(string_split(lower(text), ' '),
                                 x -> x IN {_SW_SQL})) AS DOUBLE)
              / len(string_split(text, ' ')) > 0.05) AS looks_english,
           COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-hit ratio) × labeled lang — the
    engine-side analogue of the reference's differential confusion matrix
    (CheckerApp.scala:70-96), applied to a text classifier."""
    d = fan_out(table(spark, sf_dir, "documents"))
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    nstop = F.expr(f"size(filter(split(lower(text), ' '), x -> x IN ({sw})))")
    ntok = F.size(F.split("text", " "))
    return (
        d.select("lang", ((nstop.cast("double") / ntok) > 0.05).alias("looks_english"))
        .groupBy("lang", "looks_english")
        .agg(F.count("*").alias("n"))
    )


@register(
    "quality_filter_pipeline",
    tags=("text", "pipeline"),
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_tok,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> x IN {_SW_SQL})) AS DOUBLE)
               / len(string_split(text, ' ')) AS sw_ratio
      FROM documents
    )
    SELECT CASE
             WHEN n_tokens < 20 THEN 'too_short'
             WHEN avg_tok < 3 OR avg_tok > 12 THEN 'bad_token_len'
             WHEN sw_ratio < 0.01 THEN 'no_stopwords'
             ELSE 'keep'
           END AS verdict,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM scored
    GROUP BY 1
    ORDER BY verdict
    """,
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gating with rejection attribution: first
    failing rule wins, keep/reject counts per reason. One narrow pass +
    one tiny agg — the whole filter runs at scan speed at 100 TB."""
    d = fan_out(table(spark, sf_dir, "documents"))
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    ntok = F.size(F.split("text", " "))
    avg_tok = F.col("n_chars").cast("double") / ntok
    sw_ratio = F.expr(f"size(filter(split(lower(text), ' '), x -> x IN ({sw})))").cast("double") / ntok
    verdict = (
        F.when(ntok < 20, "too_short")
        .when((avg_tok < 3) | (avg_tok > 12), "bad_token_len")
        .when(sw_ratio < 0.01, "no_stopwords")
        .otherwise("keep")
    )
    return (
        d.select(verdict.alias("verdict"), ntok.alias("n_tokens"))
        .groupBy("verdict")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").cast("bigint").alias("total_tokens"))
        .orderBy("verdict")
    )


_TOPK_GRAMS = 50


@register(
    "langid_ngram_confusion",
    tags=("text", "langid"),
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, lang, doc_id % 5 = 0 AS is_test,
             unnest(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                                   i -> substr(t, i, 3))) AS g
      FROM (SELECT doc_id, lang, lower(text) AS t FROM documents)
    ),
    profile AS (
      SELECT lang, g FROM (
        SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS rn
        FROM grams WHERE NOT is_test GROUP BY lang, g
      ) WHERE rn <= {_TOPK_GRAMS}
    ),
    test_grams AS (SELECT DISTINCT doc_id, lang AS true_lang, g FROM grams WHERE is_test),
    scores AS (
      SELECT t.doc_id, t.true_lang, p.lang AS pred, COUNT(*) AS score
      FROM test_grams t JOIN profile p ON t.g = p.g
      GROUP BY t.doc_id, t.true_lang, p.lang
    ),
    best AS (
      SELECT doc_id, true_lang, pred FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, pred) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT true_lang, pred AS pred_lang, COUNT(*) AS n
    FROM best GROUP BY 1, 2 ORDER BY true_lang, pred_lang
    """,
)
def langid_ngram_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by character-trigram profiles: learn each label's
    top-K trigrams on a training split (doc_id % 5 != 0), classify the
    held-out split by profile-overlap count, report the confusion matrix.

    All-integer scoring with total tie-breaks, so Spark and DuckDB agree
    exactly. Scale shape: profiles are tiny (langs x K rows -> broadcast);
    the only big shuffle keys are (doc, gram) pairs, uniformly hashed.
    The synthetic corpus shares one vocabulary across labels, so accuracy
    is near-chance - the operator, not the classifier, is under test."""
    from pyspark.sql import Window

    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.lower("text").alias("t"), (F.col("doc_id") % 5 == 0).alias("is_test")
    )
    # inline if() length guard: sequence(1, 0) is descending in Spark,
    # and substring treats position 0 as 1 — a <3-char doc would emit
    # phantom duplicate trigrams that DuckDB's empty generate_series
    # never produces
    grams = d.select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(
            F.expr(
                "if(length(t) < 3, array(),"
                " transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)))"
            )
        ).alias("g"),
    )
    w_prof = Window.partitionBy("lang").orderBy(F.desc("cnt"), "g")
    profile = (
        grams.filter(~F.col("is_test"))
        .groupBy("lang", "g")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= _TOPK_GRAMS)
        .select(F.col("lang").alias("pred"), "g")
    )
    test_grams = (
        grams.filter(F.col("is_test"))
        .select("doc_id", F.col("lang").alias("true_lang"), "g")
        .distinct()
    )
    scores = (
        test_grams.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "true_lang", "pred")
        .agg(F.count("*").alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.desc("score"), "pred")
    best = scores.withColumn("rn", F.row_number().over(w_best)).filter(F.col("rn") == 1)
    return (
        best.groupBy("true_lang", F.col("pred").alias("pred_lang"))
        .agg(F.count("*").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "tfidf_top_terms",
    tags=("text", "tfidf"),
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents WHERE doc_id < 100
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency x inverse document frequency, top-3 terms
    per document (SURVEY §7 text-analysis item).

    Determinism: ranking uses the raw double (tf * ln(N/df) — both
    engines' libm agree on these magnitudes), ties broken by term;
    output rounds to 6 decimals. Scale shape: tf is one shuffle on
    (doc, term); df is a second on term; the df table broadcasts."""
    from pyspark.sql import Window

    d = fan_out(table(spark, sf_dir, "documents")).filter(F.col("doc_id") < 100)
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = tok.select(F.count_distinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


# GPT-2-style pre-tokenizer: contraction suffixes, letter runs, digit runs,
# punctuation runs (each optionally space-prefixed), residual whitespace.
# ASCII classes only so Java regex (Spark) and RE2 (DuckDB) agree exactly.
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


@register(
    "text_bpe_token_stats",
    tags=("text",),
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))) AS BIGINT)
             AS total_bpe_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}'))) AS DOUBLE)
             / SUM(len(string_split(text, ' '))) AS bpe_per_ws
    FROM documents GROUP BY source
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex, counted
    per source next to the whitespace baseline.

    The regex runs inside whole-stage codegen (``regexp_extract_all`` is a
    JVM expression) — token counting at 100 TB is a narrow scan-speed map,
    one partial-aggregated shuffle on ``source``."""
    d = fan_out(table(spark, sf_dir, "documents"))
    nbpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    nws = F.size(F.split("text", " "))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(nbpe).cast("bigint").alias("total_bpe_tokens"),
        F.sum(nws).cast("bigint").alias("total_ws_tokens"),
        (F.sum(nbpe).cast("double") / F.sum(nws)).alias("bpe_per_ws"),
    )


@register(
    "word_pmi_pairs",
    tags=("text",),
    oracle="""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents),
    freq AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    vocab AS (SELECT w, c FROM freq ORDER BY c DESC, w LIMIT 100),
    vt AS (SELECT t.doc_id, t.w, v.c FROM toks t JOIN vocab v USING (w)),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, a.c AS c1, b.c AS c2, COUNT(*) AS c_xy
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY 1,2,3,4
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT w1, w2, c_xy,
           ROUND(ln(CAST(c_xy AS DOUBLE) * n_docs / (CAST(c1 AS DOUBLE) * c2)), 6) AS pmi
    FROM pairs, n
    WHERE c_xy >= 20
    """,
)
def word_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring in a
    document — the classic collocation/corpus-statistics pass (and the
    feature behind phrase detection in word2vec-style pipelines).

    Scale shape: tokenize+distinct (shuffle on (doc,w)), doc-frequency
    agg, restrict to a broadcast top-100 vocabulary — THE step that keeps
    the pair space bounded (100·99/2 possible pairs regardless of corpus
    size) — then one equi-join on doc_id and a pair-keyed count. Without
    the vocab cap the self-join is O(distinct-words-per-doc²) per doc;
    with it, per-doc work is constant-bounded. PMI = ln(c_xy·N/(c1·c2)),
    rounded to absorb libm ulp differences; the c_xy floor keeps the
    report to statistically meaningful pairs."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        fan_out(d)
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    vocab = freq.orderBy(F.desc("c"), "w").limit(100)
    vt = toks.join(F.broadcast(vocab), "w")
    right = vt.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("w").alias("w2"),
        F.col("c").alias("c2"),
    )
    pairs = (
        vt.join(right, (F.col("doc_id") == F.col("doc_id_b")) & (F.col("w") < F.col("w2")))
        .groupBy(F.col("w").alias("w1"), "w2", F.col("c").alias("c1"), "c2")
        .agg(F.count("*").alias("c_xy"))
    )
    n_docs = d.select(F.count_distinct("doc_id").alias("n_docs"))
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .filter(F.col("c_xy") >= 20)
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n_docs")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "unigram_logprob_score",
    tags=("text", "quality"),
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    freq AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    total AS (SELECT SUM(c) AS t FROM freq),
    scored AS (
      SELECT tk.doc_id, -ln(CAST(f.c AS DOUBLE) / total.t) AS nll
      FROM toks tk JOIN freq f USING (w), total
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(SUM(nll) / COUNT(*), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: each document's mean token negative
    log-probability under the corpus's own unigram distribution — the
    cheapest member of the perplexity-filter family (CCNet/Gopher use a
    5-gram KenLM; the plumbing is identical: train on the corpus, score
    per document, filter the tails as outliers).

    Scale shape: the "language model" is just the token-frequency table —
    tiny relative to the corpus, so it BROADCASTS and scoring is a
    narrow map over the exploded tokens (one shuffle to build the freq
    table, one to re-group per document; both keyed uniformly). Rounded
    to absorb float-sum ordering wobble under AQE."""
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    scored = (
        toks.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("c").cast("double") / F.col("t"))).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum("nll") / F.count("*"), 6).alias("avg_nll"),
    )


@register(
    "bm25_topk_docs",
    headline2=True,
    tags=("text", "ranking"),
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    docfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
    q AS (SELECT w, df FROM docfreq ORDER BY df DESC, w LIMIT 3)
    SELECT tf.doc_id,
           ROUND(SUM(ln(1 + (stats.n_docs - q.df + 0.5) / (q.df + 0.5))
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6)
             AS bm25,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched
    FROM tf JOIN q USING (w) JOIN dl USING (doc_id), stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 20
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (k1=1.2, b=0.75) for a deterministic query —
    the 3 highest-document-frequency tokens — returning the top 20 docs
    by score.  The exact-retrieval companion to tfidf_top_terms: idf uses
    the standard ln(1 + (N - df + 0.5)/(df + 0.5)) form, tf saturates via
    k1, and dl/avgdl length-normalizes via b.

    Scale shape: the exploded token stream — the largest intermediate by
    far at corpus scale — is consumed by exactly ONE map-side-combined
    groupBy (the tf build); dl, corpus stats, and document frequency are
    all DERIVED from the tf table (dl = sum of a doc's tfs), which is
    orders of magnitude smaller, so its exchange is planned once and
    reused across the three consumers.  The query term list (3 rows) and
    the corpus stats (1 row) BROADCAST, so scoring is a narrow probe of
    the tf table — then per-doc agg over <= 3 rows and a global top-k
    (TakeOrderedAndProject, never a full sort).  Scores are rounded to
    6dp on both engines and the ordering key is the ROUNDED score with a
    doc_id tiebreak, so the top-20 boundary is engine-identical."""
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    # r17: the tf table is CHECKPOINTED.  Four consumers derive from it
    # (dl, corpus stats, document frequency, the probe side), and their
    # diverging column pruning defeats Spark's exchange reuse — the
    # executed plan re-ran the scan+explode+groupBy subtree FOUR times
    # (verified in the r17 plan dump of this query: four separate
    # `Scan parquet … Generate … Exchange` chains).  Materializing tf once
    # per run (fresh checkpoint per call — nothing survives across
    # invocations) replaces three re-explosions of the token stream with
    # three reads of the much smaller (doc, word, tf) table; at 100 TB
    # that is three saved corpus passes for one vocab-sized local write.
    # Measured (interleaved min-of-7 brackets, sf0.1): 2.33/1.50 s →
    # 1.39/0.94 s, identical top-20.
    # The tf frame materializes AQE-coalesced (ONE partition at sf0.1 —
    # the 1 MB minPartitionSize floor), so the three consumer stages run
    # single-task at bench scale.  A pre-ckpt repartition(cores) — the
    # r18 VERDICT-#4-pattern probe — was REJECTED on measurement: the
    # extra exchange + 32-file checkpoint write DOUBLED the query
    # (0.85 → 1.72 s min, 3-round interleaved fresh-process A/B); the
    # single-partition layout is a bench-scale artifact of size-driven
    # AQE coalescing, which materializes a real corpus' tf executor-wide
    # on its own.
    # Executor-loss stance (r18): localCheckpoint is NON-reliable; an
    # executor loss fails the job and the invocation re-runs from the
    # parquet inputs (the tf frame is deterministic and per-invocation).
    # At 100 TB the same materialization would persist(DISK_ONLY_2) or
    # reliably checkpoint if recompute-on-retry is too expensive; the
    # frame is vocab×doc-sized, orders of magnitude under the token
    # stream it replaces (30x-tile probe in OPTIMIZATION_r18.md).
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf")).localCheckpoint(eager=True)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    docfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    qterms = docfreq.orderBy(F.desc("df"), "w").limit(3)
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(qterms), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term), 6).alias("bm25"),
            F.count("*").cast("bigint").alias("n_terms_matched"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@register(
    "gopher_rules_filter",
    tags=("text", "quality"),
    oracle=f"""
    WITH scored AS (
      SELECT source,
             len(string_split(text, ' ')) AS n_tok,
             CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS awl,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS alpha_frac,
             len(list_distinct(list_filter(string_split(lower(text), ' '),
                                           x -> x IN {_SW_SQL}))) AS n_stop,
             CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
                    x -> len(list_filter(string_split(text, ' '), y -> y = x)))) AS DOUBLE)
               / len(string_split(text, ' ')) AS top_tok_frac
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tok BETWEEN 30 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
           CAST(SUM(CASE WHEN awl BETWEEN 3 AND 10 THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordlen,
           CAST(SUM(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS pass_alpha,
           CAST(SUM(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
           CAST(SUM(CASE WHEN top_tok_frac <= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep,
           CAST(SUM(CASE WHEN n_tok BETWEEN 30 AND 100000 AND awl BETWEEN 3 AND 10
                          AND alpha_frac >= 0.8 AND n_stop >= 2 AND top_tok_frac <= 0.2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM scored GROUP BY source
    """,
)
def gopher_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, Table A1) adapted
    to the synthetic corpus, reported per source as per-rule pass counts
    plus the conjunctive keep count: document length in [30, 1e5] tokens,
    mean word length in [3, 10], >= 80% purely-alphabetic tokens, >= 2
    distinct required stopwords, and top-token dominance <= 0.2 (the
    intra-doc repetition gate standing in for Gopher's duplicate-line
    fractions).

    Scale shape: every rule — including the repetition gate, computed
    in-row as an O(len^2) array expression over the <= 100-token docs
    rather than an explode+groupBy — is a narrow JVM map; the only
    shuffle is the final per-source agg (map-side combined). Integer
    counts and exact int/int ratios keep both engines bit-identical."""
    d = fan_out(table(spark, sf_dir, "documents"))
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    ntok = F.size(F.split("text", " "))
    awl = F.col("n_chars").cast("double") / ntok
    alpha = (
        F.expr("size(filter(split(text, ' '), x -> x rlike '^[a-z]+$'))").cast("double")
        / ntok
    )
    nstop = F.expr(
        f"size(array_distinct(filter(split(lower(text), ' '), x -> x IN ({sw}))))"
    )
    toprat = (
        F.expr(
            "array_max(transform(array_distinct(split(text, ' ')),"
            " x -> size(filter(split(text, ' '), y -> y = x))))"
        ).cast("double")
        / ntok
    )
    scored = d.select(
        "source",
        ntok.alias("n_tok"),
        awl.alias("awl"),
        alpha.alias("alpha_frac"),
        nstop.alias("n_stop"),
        toprat.alias("top_tok_frac"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    r_len = F.col("n_tok").between(30, 100000)
    r_awl = F.col("awl").between(3, 10)
    r_alpha = F.col("alpha_frac") >= 0.8
    r_stop = F.col("n_stop") >= 2
    r_rep = F.col("top_tok_frac") <= 0.2
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        one(r_len).alias("pass_len"),
        one(r_awl).alias("pass_wordlen"),
        one(r_alpha).alias("pass_alpha"),
        one(r_stop).alias("pass_stop"),
        one(r_rep).alias("pass_rep"),
        one(r_len & r_awl & r_alpha & r_stop & r_rep).alias("n_keep"),
    )


@register(
    "bigram_logprob_score",
    tags=("text", "quality"),
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    big AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM toks, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
    uc AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT x) AS vsz
          FROM (SELECT unnest(string_split(text, ' ')) AS x FROM documents)),
    scored AS (
      SELECT b.doc_id, -ln((bc.c2 + 1.0) / (uc.c1 + v.vsz)) AS nll
      FROM big b JOIN bc USING (w1, w2) JOIN uc USING (w1), v
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(SUM(nll) / COUNT(*), 6) AS avg_nll
    FROM scored GROUP BY doc_id
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-one-smoothed
    corpus BIGRAM model — the context-aware companion to
    unigram_logprob_score (the perplexity-style filter of CCNet/Wikipedia
    pipelines): p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), with c(w1) counted
    over bigram positions so train and eval see the same event space.

    Scale shape: bigram counts from one map-side-combined groupBy on the
    (w1,w2) pair key (uniform); scoring re-joins the bigram stream to the
    count tables on the same keys — the bigram table is NOT broadcast
    (it grows with the corpus; only the one-row vocab size is). The
    explode keeps its transform inline (InferFiltersFromGenerate trap).
    Rounded at 6dp to absorb double-sum ordering wobble."""
    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    # single-token guard inline in the explode: a row filter on size(w)
    # would be pushed below fan_out's repartition into the FileScan,
    # serializing split() on the scan stage for every reuse (big/bc/uc)
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(w) < 2, array(),"
                " transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i-1] AS w1, w[i] AS w2)))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    uc = big.groupBy("w1").agg(F.count("*").alias("c1"))
    v = (
        d.select(F.explode(F.split("text", " ")).alias("x"))
        .agg(F.count_distinct("x").alias("vsz"))
    )
    scored = (
        big.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            (-F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vsz")))).alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("nll") / F.count("*"), 6).alias("avg_nll"),
    )


@register(
    "bpe_merge_pairs",
    tags=("text", "tokenizer"),
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, c
      FROM vocab, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING-step statistic (Sennrich et al.): corpus-weighted
    counts of adjacent symbol pairs — the quantity a byte-pair-encoding
    trainer maximizes to pick each merge — reported as the top-20 pairs.
    Complements text_bpe_token_stats (which APPLIES a GPT-2-style
    pre-tokenizer): this is the statistic that BUILDS the vocabulary;
    iterating it (merge the argmax, re-count) is the full trainer loop.

    Scale shape: the crucial trick is counting pairs over the VOCABULARY
    (word, count) table, not the raw token stream — the corpus is
    touched once by a map-side-combined word count, then pair explosion
    runs over |vocab| rows with each pair weighted by the word's corpus
    count (exactly how production BPE trainers scale). Top-20 is a
    TakeOrderedAndProject, never a full sort."""
    d = fan_out(table(spark, sf_dir, "documents").select("text"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = vocab.filter(F.length("w") >= 2).select(
        "c",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


# RAG/embedding-prep chunking: window/stride in whitespace tokens. 64/48
# (25% overlap) is a common embedding-model shape; the constants are
# mirrored verbatim in the oracle.
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48


@register(
    "doc_chunk_windows",
    tags=("text", "rag", "chunking"),
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, w,
             CASE WHEN len(w) <= {CHUNK_WINDOW} THEN 1
                  ELSE 1 + (len(w) - {CHUNK_WINDOW} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
             END AS n_chunks
      FROM t
    ),
    x AS (
      SELECT doc_id, i.i AS chunk_idx,
             list_slice(w, i.i*{CHUNK_STRIDE} + 1, i.i*{CHUNK_STRIDE} + {CHUNK_WINDOW}) AS toks
      FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) i
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(toks) AS INT) AS n_tokens,
           md5(array_to_string(toks, ' ')) AS chunk_hash
    FROM x
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking into overlapping token windows — the
    embedding/RAG preparation primitive (window 64 = CHUNK_WINDOW, stride
    48 = CHUNK_STRIDE): every document becomes ceil-spaced chunks whose ids
    are stable (doc_id, chunk_idx) and whose content is fingerprinted
    (md5 of the joined window) so downstream embedding jobs are
    idempotent and chunk-level dedup can join on the hash.  Distinct
    from ``pack_training_sequences`` (greedy concat-packing for training
    shards): chunking preserves per-document provenance and overlap.

    Scale shape: one narrow pass — split once per doc, chunk list built
    in-row (transform over an ascending sequence; n_chunks >= 1 always,
    so Spark's descending-sequence ANSI trap cannot fire), explode
    multiplies rows by ~n_tokens/stride (linear in corpus tokens); all
    JVM expressions inside whole-stage codegen, guards inline (the
    split-derived-filter pushdown trap).  At 100 TB this is the
    map-only stage feeding a Pandas-UDF embedder; the chunk_hash
    equi-join is the chunk-dedup path."""
    return _chunk_windows(spark, sf_dir)


def chunk_windows_frame(docs: DataFrame) -> DataFrame:
    """Chunk builder over any (doc_id, text, ...) frame — batch or
    STREAMING (it is a pure narrow map, so Structured Streaming accepts
    it unchanged; streaming/chunk_dedup_stream composes it with a
    watermarked stateful dedup).  Extra input columns pass through."""
    nc = (
        f"if(size(w) <= {CHUNK_WINDOW}, 1,"
        f" 1 + (size(w) - {CHUNK_WINDOW} + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE})"
    )
    chunks = F.expr(
        f"transform(sequence(0, {nc} - 1), i -> struct("
        f"cast(i as int) as chunk_idx,"
        f" slice(w, i*{CHUNK_STRIDE} + 1, {CHUNK_WINDOW}) as toks))"
    )
    passthrough = [c for c in docs.columns if c not in ("doc_id", "text")]
    d = docs.select("doc_id", F.split("text", " ").alias("w"), *passthrough)
    return d.select("doc_id", F.explode(chunks).alias("c"), *passthrough).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.toks").cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("c.toks"))).alias("chunk_hash"),
        *passthrough,
    )


def _chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared chunk builder (doc_chunk_windows + chunk_dedup_stats +
    the IVF retrieval and first-occurrence queries below)."""
    return chunk_windows_frame(
        fan_out(table(spark, sf_dir, "documents")).select("doc_id", "text")
    )


@register(
    "chunk_dedup_stats",
    tags=("text", "rag", "chunking", "dedup"),
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, w,
             CASE WHEN len(w) <= {CHUNK_WINDOW} THEN 1
                  ELSE 1 + (len(w) - {CHUNK_WINDOW} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
             END AS n_chunks
      FROM t
    ),
    x AS (
      SELECT md5(array_to_string(
               list_slice(w, i.i*{CHUNK_STRIDE} + 1, i.i*{CHUNK_STRIDE} + {CHUNK_WINDOW}), ' '))
               AS chunk_hash,
             len(list_slice(w, i.i*{CHUNK_STRIDE} + 1, i.i*{CHUNK_STRIDE} + {CHUNK_WINDOW}))
               AS n_tokens
      FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) i
    ),
    per_hash AS (
      SELECT chunk_hash, COUNT(*) AS cnt, MIN(n_tokens) AS n_tokens
      FROM x GROUP BY chunk_hash
    )
    SELECT CAST(SUM(cnt) AS BIGINT) AS total_chunks,
           CAST(COUNT(*) AS BIGINT) AS unique_chunks,
           CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS dup_chunks,
           CAST(SUM(cnt * n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM((cnt - 1) * n_tokens) AS BIGINT) AS tokens_saved,
           ROUND(CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_rate
    FROM per_hash
    """,
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity dedup report — what an embedding/RAG store
    saves by keying vectors on content fingerprints instead of
    (doc_id, chunk_idx): unique vs total chunks, duplicate rate, and
    tokens whose embedding compute is avoided.  Composes
    ``doc_chunk_windows``'s chunk_hash contract (same constants, same
    fingerprints) so the two queries describe one pipeline.

    Scale shape: the chunk stream never materializes — one
    map-side-combined groupBy on the 16-byte hash (uniform key, no
    skew), then a single-row total; at 100 TB this is one balanced
    shuffle of (hash, count, n_tokens) partial aggregates."""
    per_hash = (
        _chunk_windows(spark, sf_dir)
        .groupBy("chunk_hash")
        .agg(F.count("*").alias("cnt"), F.min("n_tokens").alias("n_tokens"))
    )
    total = F.sum("cnt").cast("bigint")
    uniq = F.count("*").cast("bigint")
    return per_hash.agg(
        total.alias("total_chunks"),
        uniq.alias("unique_chunks"),
        (total - uniq).alias("dup_chunks"),
        F.sum(F.col("cnt") * F.col("n_tokens")).cast("bigint").alias("tokens_total"),
        F.sum((F.col("cnt") - 1) * F.col("n_tokens")).cast("bigint").alias("tokens_saved"),
        F.round((total - uniq).cast("double") / F.sum("cnt"), 6).alias("dup_rate"),
    )


@register(
    "chunk_dedup_first_occurrence",
    tags=("text", "rag", "chunking", "dedup", "streaming"),
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, w,
             CASE WHEN len(w) <= {CHUNK_WINDOW} THEN 1
                  ELSE 1 + (len(w) - {CHUNK_WINDOW} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
             END AS n_chunks
      FROM t
    ),
    x0 AS (
      SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
             md5(array_to_string(
               list_slice(w, i.i*{CHUNK_STRIDE} + 1, i.i*{CHUNK_STRIDE} + {CHUNK_WINDOW}), ' '))
               AS chunk_hash
      FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) i
    ),
    fo AS (SELECT chunk_hash, MIN(doc_id * 1000000 + chunk_idx) AS mk
           FROM x0 GROUP BY chunk_hash)
    SELECT x0.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN x0.doc_id * 1000000 + x0.chunk_idx = fo.mk
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN x0.doc_id * 1000000 + x0.chunk_idx = fo.mk
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM x0 JOIN fo USING (chunk_hash)
    GROUP BY x0.doc_id
    """,
)
def chunk_dedup_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.chunk_dedup_stream`` (the
    dropDuplicatesWithinWatermark-on-chunk_hash pipeline): per document,
    how many of its chunks SURVIVE first-occurrence chunk dedup — the
    attribution report an embedding ingest uses to bill/skip compute.
    First occurrence is pinned to the lowest (doc_id, chunk_idx) — a
    deterministic attribution the streaming operator cannot promise
    (its keep is arrival-order-dependent); tests/test_streaming.py
    asserts the order-free contract instead: identical survivor
    fingerprint SET and count, one survivor per hash.

    Scale shape: one shuffle on the 16-byte hash to mark minima (a
    map-side-combined agg, same key as chunk_dedup_stats), a broadcast-
    or-shuffle join back on that hash, then one map-side-combined agg on
    doc_id — bounded state, no window over the raw chunk stream."""
    chunks = _chunk_windows(spark, sf_dir).select(
        "doc_id",
        "chunk_idx",
        "chunk_hash",
        (F.col("doc_id") * 1_000_000 + F.col("chunk_idx")).alias("pk"),
    )
    fo = chunks.groupBy("chunk_hash").agg(F.min("pk").alias("mk"))
    first = (F.col("pk") == F.col("mk")).cast("long")
    return (
        chunks.join(fo, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(first).alias("n_kept"),
            (F.count("*") - F.sum(first)).alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# Chunk retrieval: the RAG pipeline the chunking contract exists to feed —
# unique chunk fingerprints → per-chunk embeddings → IVF cells → probe
# --------------------------------------------------------------------------

CHUNK_IVF_K = 16  # coarse cells (centroid init: the K smallest hashes)
CHUNK_NPROBE = 2  # cells searched per query
CHUNK_TOPK = 10

# deterministic 16-dim chunk embedding: md5 digest bytes scaled to [0, 1],
# a pure function of the fingerprint, so the oracle re-derives the vectors
# straight from it
_CHUNK_EMB = (
    "transform(sequence(1, 16), i -> "
    "cast(conv(substr(chunk_hash, 2*i - 1, 2), 16, 10) as double) / 255.0d)"
)


def _chunk_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One embedding per UNIQUE chunk fingerprint (the chunk_dedup_stats
    contract made load-bearing: duplicate chunks are embedded once), with
    occurrence count and min-(doc_id, chunk_idx) provenance carried
    through the same single shuffle."""
    uniq = (
        _chunk_windows(spark, sf_dir)
        .groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(F.col("doc_id") * 1_000_000 + F.col("chunk_idx")).alias("mk"),
        )
    )
    return uniq.select(
        "chunk_hash",
        "n_dups",
        F.expr("mk div 1000000").alias("doc_id"),
        (F.col("mk") % 1_000_000).cast("int").alias("chunk_idx"),
        F.expr(_CHUNK_EMB).alias("v"),
    )


@register(
    "chunk_embed_ivf_topk",
    tags=("text", "rag", "chunking", "similarity", "ann"),
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id, w,
             CASE WHEN len(w) <= {CHUNK_WINDOW} THEN 1
                  ELSE 1 + (len(w) - {CHUNK_WINDOW} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
             END AS n_chunks
      FROM t
    ),
    x0 AS (
      SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
             md5(array_to_string(
               list_slice(w, i.i*{CHUNK_STRIDE} + 1, i.i*{CHUNK_STRIDE} + {CHUNK_WINDOW}), ' '))
               AS chunk_hash
      FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) i
    ),
    u0 AS (
      SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS n_dups,
             MIN(doc_id * 1000000 + chunk_idx) AS mk
      FROM x0 GROUP BY chunk_hash
    ),
    u AS (
      SELECT chunk_hash, n_dups, mk // 1000000 AS doc_id,
             CAST(mk % 1000000 AS INT) AS chunk_idx,
             list_transform(generate_series(1, 16),
               i -> CAST(('0x' || substr(chunk_hash, 2*i - 1, 2))::INT AS DOUBLE) / 255.0) AS v
      FROM u0
    ),
    ct AS (SELECT chunk_hash AS cluster, v AS c FROM u ORDER BY chunk_hash LIMIT {CHUNK_IVF_K}),
    t1 AS (SELECT u.chunk_hash AS ch, ct.cluster,
                  unnest(list_transform(u.v, (x, i) ->
                         CAST((x - ct.c[i]) * (x - ct.c[i]) AS DECIMAL(28,12)))) AS d
           FROM u, ct),
    d1 AS (SELECT ch, cluster, SUM(d) AS d2 FROM t1 GROUP BY ch, cluster),
    a1 AS (SELECT ch, cluster FROM d1
           QUALIFY row_number() OVER (PARTITION BY ch ORDER BY d2, cluster) = 1),
    qh AS (SELECT chunk_hash FROM x0 WHERE doc_id = 0 AND chunk_idx = 0),
    qv AS (SELECT u.v FROM u JOIN qh ON u.chunk_hash = qh.chunk_hash),
    qt AS (SELECT ct.cluster,
                  unnest(list_transform(q.v, (y, i) ->
                         CAST((y - ct.c[i]) * (y - ct.c[i]) AS DECIMAL(28,12)))) AS d
           FROM ct, qv q),
    qd AS (SELECT cluster, SUM(d) AS d2 FROM qt GROUP BY cluster),
    qc AS (SELECT cluster FROM qd
           QUALIFY row_number() OVER (ORDER BY d2, cluster) <= {CHUNK_NPROBE}),
    cand AS (
      SELECT u.* FROM u
      JOIN a1 ON a1.ch = u.chunk_hash
      JOIN qc ON qc.cluster = a1.cluster
      WHERE u.chunk_hash NOT IN (SELECT chunk_hash FROM qh)
    ),
    prods AS (
      SELECT cand.chunk_hash, cand.doc_id, cand.chunk_idx, cand.n_dups,
             unnest(list_transform(cand.v, (x, i) -> CAST(x * q.v[i] AS DECIMAL(28,12)))) AS xy,
             unnest(list_transform(cand.v, (x, i) -> CAST(x * x AS DECIMAL(28,12)))) AS xx,
             unnest(list_transform(q.v, (y, i) -> CAST(y * y AS DECIMAL(28,12)))) AS yy
      FROM cand, qv q
    )
    SELECT chunk_hash, doc_id, chunk_idx, n_dups,
           CAST(SUM(xy) AS DOUBLE) /
           (sqrt(CAST(SUM(xx) AS DOUBLE)) * sqrt(CAST(SUM(yy) AS DOUBLE))) AS cosine
    FROM prods GROUP BY chunk_hash, doc_id, chunk_idx, n_dups
    HAVING SUM(xx) > 0 AND SUM(yy) > 0
    ORDER BY cosine DESC, chunk_hash
    LIMIT {CHUNK_TOPK}
    """,
)
def chunk_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-by-chunk: the end-to-end RAG read path over the r7
    chunking contract.  Chunks from ``doc_chunk_windows`` are
    deduplicated on their content fingerprint (each unique chunk embedded
    ONCE — chunk_hash as a real join/agg key, the tokens_saved economics
    of ``chunk_dedup_stats`` realized), embedded deterministically from
    the digest, bucketed into 16 IVF cells (CHUNK_IVF_K; centroids = the
    K lexicographically-smallest fingerprints, cell id = centroid hash),
    and probed with the first chunk of doc 0: exact-DECIMAL cosine top-k
    over the 2 nearest cells only (CHUNK_NPROBE).

    Scale shape: chunk build is the audited single-exchange map pipeline;
    the unique-chunk agg is ONE map-side-combined shuffle on the 16-byte
    hash; centroids/query are tiny broadcasts (packed-array, the
    mlprep._assign device); assignment + probe filter run in-row, so the
    cosine scan touches ~2/16 of unique chunks (CHUNK_NPROBE/CHUNK_IVF_K)
    and the top-k is TakeOrderedAndProject.  No flat scan of all cells,
    no cartesian joins, zero Python."""
    from spark_bam_spark.queries.mlprep import _DEC, _dec_sum

    # the unique-chunk embedding stream feeds three consumers (centroid
    # init, assignment scan, query row) and would re-run the chunk
    # explode + hash shuffle for each; materialize it once.  Explicit
    # wide repartition BEFORE the checkpoint — AQE coalesces the small
    # hash shuffle to one partition and localCheckpoint would freeze
    # that single-task layout under the whole probe (the r8 semdedup
    # 'memw' finding, VERIFICATION_r8.md §4a).
    emb = (
        _chunk_vectors(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    cents = (
        emb.orderBy("chunk_hash")
        .limit(CHUNK_IVF_K)
        .select(F.col("chunk_hash").alias("cluster"), F.col("v").alias("c"))
    )
    packed = cents.agg(F.collect_list(F.struct("cluster", "c")).alias("cs"))
    d2 = _dec_sum(f"zip_with(v, s.c, (x, y) -> cast((x - y) * (x - y) as {_DEC}))")
    argmin = F.expr(
        f"array_min(transform(cs, s -> struct({d2} as d2, s.cluster as cluster))).cluster"
    )
    assigned = emb.crossJoin(F.broadcast(packed)).select(
        "chunk_hash", "n_dups", "doc_id", "chunk_idx", "v", argmin.alias("cluster")
    )
    q = emb.filter((F.col("doc_id") == 0) & (F.col("chunk_idx") == 0)).select(
        F.col("chunk_hash").alias("qh"), F.col("v").alias("qv")
    )
    d2q = _dec_sum(f"zip_with(qv, s.c, (x, y) -> cast((x - y) * (x - y) as {_DEC}))")
    qsel = q.crossJoin(F.broadcast(packed)).select(
        "qh",
        "qv",
        F.expr(
            f"transform(slice(array_sort(transform(cs, s -> struct({d2q} as d2,"
            f" s.cluster as cluster))), 1, {CHUNK_NPROBE}), s -> s.cluster)"
        ).alias("qcells"),
    )
    cand = assigned.crossJoin(F.broadcast(qsel)).filter(
        F.expr("array_contains(qcells, cluster)") & (F.col("chunk_hash") != F.col("qh"))
    )
    xy = _dec_sum(f"zip_with(v, qv, (x, y) -> cast(x * y as {_DEC}))")
    xx = _dec_sum(f"transform(v, x -> cast(x * x as {_DEC}))")
    yy = _dec_sum(f"transform(qv, y -> cast(y * y as {_DEC}))")
    return (
        cand.select(
            "chunk_hash",
            "doc_id",
            "chunk_idx",
            "n_dups",
            F.try_divide(
                F.expr(xy).cast("double"),
                F.sqrt(F.expr(xx).cast("double")) * F.sqrt(F.expr(yy).cast("double")),
            ).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.desc("cosine"), "chunk_hash")
        .limit(CHUNK_TOPK)
    )
