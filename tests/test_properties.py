"""Property-based tests (hypothesis) for the byte-level format layer —
pure Python, no Spark session needed.

Invariants:
- encode/decode round-trip is exact for arbitrary records;
- the eager checker accepts every true record start (zero false
  negatives by construction) and the upstream-emulating checker accepts
  a superset of those;
- find_record_start from any probe point at/before a true start never
  skips past it.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import given, settings

from spark_bam_spark.bam.checker import (
    HeaderInfo,
    check_record_start,
    check_record_start_upstream,
    find_record_start,
)
from spark_bam_spark.bam.records import BamRecord, decode_record, encode_record

CONTIGS = (1_000_000, 2_000_000)
HDR = HeaderInfo(CONTIGS)

_name = st.text(
    alphabet=st.characters(min_codepoint=0x21, max_codepoint=0x7E, exclude_characters="@"),
    min_size=1,
    max_size=20,
).filter(lambda s: all(0x21 <= ord(c) <= 0x3F or 0x41 <= ord(c) <= 0x7E for c in s))


@st.composite
def records(draw):
    unmapped = draw(st.booleans())
    seq_len = draw(st.integers(min_value=1, max_value=60))
    seq = draw(st.text(alphabet="ACGTN=", min_size=seq_len, max_size=seq_len))
    qual = bytes(draw(st.lists(st.integers(0, 60), min_size=seq_len, max_size=seq_len)))
    if unmapped:
        ref_idx, pos, cigar, flag = -1, -1, [], 0x5
    else:
        ref_idx = draw(st.integers(0, len(CONTIGS) - 1))
        pos = draw(st.integers(0, CONTIGS[ref_idx] - 200))
        n_ops = draw(st.integers(1, 4))
        cigar = [(draw(st.sampled_from([0, 1, 2, 4])), draw(st.integers(1, 30))) for _ in range(n_ops)]
        # cigar op 0 (M) must exist so mapped reads consume reference
        cigar[0] = (0, seq_len)
        flag = 0x1
    return BamRecord(
        qname=draw(_name),
        flag=flag,
        ref_idx=ref_idx,
        pos=pos,
        mapq=draw(st.integers(0, 60)),
        cigar=cigar,
        mate_ref_idx=ref_idx,
        mate_pos=pos,
        tlen=draw(st.integers(-500, 500)),
        seq=seq,
        qual=qual,
        tags={"RG": "r0"},
    )


@given(records())
@settings(max_examples=200, deadline=None)
def test_encode_decode_roundtrip(rec):
    buf = encode_record(rec)
    got, consumed = decode_record(buf, 0)
    assert consumed == len(buf)
    assert (got.qname, got.flag, got.ref_idx, got.pos, got.mapq) == (
        rec.qname, rec.flag, rec.ref_idx, rec.pos, rec.mapq,
    )
    assert got.cigar == rec.cigar
    assert got.seq == rec.seq
    assert got.qual == rec.qual
    assert got.tags == rec.tags


@given(st.lists(records(), min_size=2, max_size=12), st.data())
@settings(max_examples=60, deadline=None)
def test_checker_no_false_negatives(recs, data):
    buf = b"".join(encode_record(r) for r in recs)
    starts = []
    o = 0
    for r in recs:
        starts.append(o)
        o += len(encode_record(r))
    for s in starts:
        assert check_record_start(buf, s, HDR), f"eager rejected true start {s}"
        assert check_record_start_upstream(buf, s, HDR), f"upstream rejected true start {s}"
    # probing from any true start finds exactly that start
    probe = data.draw(st.sampled_from(starts))
    assert find_record_start(buf, probe, HDR) == probe


# ---------------------------------------------------------------------------
# Independent reference for the lag+cumsum sessionization pattern: the same
# session assignment computed by a trivial pure-Python scan must match what
# the Spark window pipeline produces (a third implementation, independent of
# both the Spark plan and the DuckDB oracle SQL that mirror each other).
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000


def _sessions_py(events):
    """events: list of (user_id, ts_us, event_id) -> {(user, session): n}."""
    out = {}
    by_user = {}
    for u, t, e in events:
        by_user.setdefault(u, []).append((t, e))
    for u, rows in by_user.items():
        rows.sort()
        sid = 0
        prev = None
        for t, _ in rows:
            if prev is None or t - prev > _GAP_US:
                sid += 1
            out[(u, sid)] = out.get((u, sid), 0) + 1
            prev = t
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # user_id
            st.integers(min_value=0, max_value=10**10),  # ts_us
            st.integers(min_value=0, max_value=10**6),  # event_id
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: (r[0], r[1], r[2]),
    )
)
def test_sessionization_matches_python_reference(spark, events):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(events, "user_id long, ts_us long, event_id long")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    flagged = df.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0).alias("is_new"),
    )
    cum = w.rowsBetween(W.unboundedPreceding, 0)
    sess = flagged.withColumn("sid", F.sum("is_new").over(cum))
    got = {
        (r["user_id"], r["sid"]): r["n"]
        for r in sess.groupBy("user_id", "sid").agg(F.count("*").alias("n")).collect()
    }
    assert got == _sessions_py(events)


# ---------------------------------------------------------------------------
# Independent reference for the CDC latest-wins merge: newest change per key
# by (ts, event_id), delete ops dropping the key — computed by a pure-Python
# scan and compared against the WindowGroupLimit pipeline shape.
# ---------------------------------------------------------------------------


def _merge_py(feed):
    """feed: list of (user, ts, eid, op) -> {user: (ts, eid, op)} minus deletes."""
    latest = {}
    for u, t, e, op in feed:
        if u not in latest or (t, e) > latest[u][:2]:
            latest[u] = (t, e, op)
    return {u: v for u, v in latest.items() if v[2] != "delete"}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from(["upsert", "touch", "delete"]),
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda r: (r[0], r[1], r[2]),
    )
)
def test_cdc_latest_wins_matches_python_reference(spark, feed):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(feed, "user_id long, ts long, event_id long, op string")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["op"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
        .collect()
    }
    assert got == _merge_py(feed)


# ---------------------------------------------------------------------------
# Independent reference for the rolling z-score anomaly window: integer-cent
# sums over the previous <= 20 rows, flag (v-m)^2 >= 9*var with n >= 10 —
# recomputed by a pure-Python scan.
# ---------------------------------------------------------------------------


def _anomalies_py(rows):
    """rows: list of (user, ts, eid, cents) -> set of flagged (user, eid)."""
    flagged = set()
    by_user = {}
    for u, t, e, c in rows:
        by_user.setdefault(u, []).append((t, e, c))
    for u, rs in by_user.items():
        rs.sort()
        for i, (_, e, c) in enumerate(rs):
            frame = [x[2] for x in rs[max(0, i - 20):i]]
            n = len(frame)
            if n < 10:
                continue
            s1, s2 = sum(frame), sum(x * x for x in frame)
            m = s1 / (100.0 * n)
            var = s2 / (10000.0 * n) - m * m
            v = c / 100.0
            if var > 0 and (v - m) * (v - m) >= 9 * var:
                flagged.add((u, e))
    return flagged


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2),
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=50000),  # cents
        ),
        min_size=12,
        max_size=80,
        unique_by=lambda r: (r[0], r[1], r[2]),
    )
)
def test_zscore_window_matches_python_reference(spark, rows):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long, v100 long")
    fr = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    w = df.select(
        "user_id",
        "event_id",
        "v100",
        F.sum("v100").over(fr).alias("s1"),
        F.sum(F.col("v100") * F.col("v100")).over(fr).alias("s2"),
        F.count("*").over(fr).alias("n"),
    )
    m = F.col("s1").cast("double") / (100.0 * F.col("n"))
    var = F.col("s2").cast("double") / (10000.0 * F.col("n")) - m * m
    v = F.col("v100") / 100.0
    got = {
        (r["user_id"], r["event_id"])
        for r in w.filter(
            (F.col("n") >= 10) & (var > 0) & ((v - m) * (v - m) >= 9 * var)
        ).collect()
    }
    assert got == _anomalies_py(rows)


# ---------------------------------------------------------------------------
# Independent reference for Efraimidis-Spirakis weighted top-k sampling:
# the md5-derived uniform and the selection key u^(1/w) recomputed in pure
# Python must pick the same k items the Spark expression pipeline does.
# ---------------------------------------------------------------------------


def _aes_py(items, k):
    """items: list of (doc_id, weight>0) -> top-k doc_ids by u^(1/w)."""
    import hashlib

    keyed = []
    for doc_id, w in items:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        u = (int(h[:13], 16) + 0.5) / 16**13
        keyed.append((u ** (1.0 / w), doc_id))
    keyed.sort(reverse=True)
    return [d for _, d in keyed[:k]]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=1, max_value=10**4),  # integer weights > 0
        ),
        min_size=5,
        max_size=40,
        unique_by=lambda r: r[0],
    )
)
def test_aes_weighted_sampling_matches_python_reference(spark, items):
    from pyspark.sql import functions as F

    k = 3
    df = spark.createDataFrame(items, "doc_id long, w long")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
            "long"
        )
        + F.lit(0.5)
    ) / F.lit(float(16**13))
    key = F.pow(u, 1.0 / F.col("w"))
    got = [
        r["doc_id"]
        for r in df.select("doc_id", key.alias("k"))
        .orderBy(F.desc("k"), "doc_id")
        .limit(k)
        .collect()
    ]
    assert got == _aes_py(items, k)


# ---------------------------------------------------------------------------
# Independent reference for BM25 scoring: k1/b/idf recomputed in pure Python
# over tiny generated corpora must rank documents exactly as the Spark
# pipeline's rounded scores do.
# ---------------------------------------------------------------------------


def _bm25_py(docs, k=20):
    """docs: list of token lists (doc_id = index) -> [(doc_id, bm25, nterms)]
    for the top-df-3 query, mirroring queries/text.py::bm25_topk_docs."""
    import math as m

    tf = [{} for _ in docs]
    for i, ws in enumerate(docs):
        for w in ws:
            tf[i][w] = tf[i].get(w, 0) + 1
    df = {}
    for t in tf:
        for w in t:
            df[w] = df.get(w, 0) + 1
    qterms = sorted(df, key=lambda w: (-df[w], w))[:3]
    n_docs = len(docs)
    avgdl = sum(len(ws) for ws in docs) / n_docs
    out = []
    for i, ws in enumerate(docs):
        s, nt = 0.0, 0
        for w in qterms:
            f = tf[i].get(w, 0)
            if not f:
                continue
            nt += 1
            idf = m.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            s += idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * len(ws) / avgdl))
        if nt:
            out.append((i, round(s, 6), nt))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=1,
            max_size=12,
        ),
        min_size=3,
        max_size=15,
    )
)
def test_bm25_matches_python_reference(spark, docs):
    import pandas as pd

    from spark_bam_spark.queries import load_all
    from spark_bam_spark.tables import TABLE_NAMES

    # stage a minimal documents table in a temp dir; other tables unused
    import tempfile

    out = tempfile.mkdtemp(prefix="bm25_prop_")
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [" ".join(ws) for ws in docs],
            "lang": ["en"] * len(docs),
            "source": ["src0"] * len(docs),
            "n_chars": [len(" ".join(ws)) for ws in docs],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for t in TABLE_NAMES:
        if t != "documents":
            spark.createDataFrame([], "x int").write.mode("overwrite").parquet(
                f"{out}/{t}.parquet"
            )
    got = [
        (r["doc_id"], r["bm25"], r["n_terms_matched"])
        for r in load_all()["bm25_topk_docs"].fn(spark, out).collect()
    ]
    assert got == _bm25_py(docs)


# ---------------------------------------------------------------------------
# Independent reference for the Bloom filter arithmetic: bits and probes
# recomputed in pure Python from the same md5 scheme must reproduce the
# exact hit set (and the no-false-negative guarantee) on random key sets.
# ---------------------------------------------------------------------------


def _bloom_py(members, probes, m_bits, k_hashes):
    import hashlib

    def bits_of(key):
        return [
            int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:15], 16) % m_bits
            for j in range(k_hashes)
        ]

    bitset = {b for key in members for b in bits_of(key)}
    return {p for p in probes if all(b in bitset for b in bits_of(p))}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40, unique=True),
    st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40, unique=True),
)
def test_bloom_bits_match_python_reference(spark, members, probes):
    from pyspark.sql import functions as F

    M, K = 256, 3  # small filter so false positives actually occur
    mdf = spark.createDataFrame([(k,) for k in members], "k long")
    pdf = spark.createDataFrame([(p,) for p in probes], "k long")
    bit_of = lambda j, k: (  # noqa: E731
        F.conv(F.substring(F.md5(F.concat_ws(":", j, k)), 1, 15), 16, 10).cast("long") % M
    )
    bits = (
        mdf.select(F.explode(F.sequence(F.lit(0), F.lit(K - 1))).alias("j"), "k")
        .select(bit_of(F.col("j"), F.col("k")).alias("bit"))
        .distinct()
    )
    hits = (
        pdf.select("k", F.explode(F.sequence(F.lit(0), F.lit(K - 1))).alias("j"))
        .join(F.broadcast(bits), bit_of(F.col("j"), F.col("k")) == F.col("bit"), "left")
        .groupBy("k")
        .agg((F.count("bit") == K).alias("hit"))
    )
    got = {r["k"] for r in hits.collect() if r["hit"]}
    want = _bloom_py(members, probes, M, K)
    assert got == want
    # structural no-false-negative: every member probe must hit
    member_probes = set(members) & set(probes)
    assert member_probes <= got or not member_probes


# ---------------------------------------------------------------------------
# Independent reference for interval union: merge overlapping [s, e] per key
# with a trivial sweep and compare counts/coverage with the running-max
# window pipeline.
# ---------------------------------------------------------------------------


def _union_py(intervals):
    """intervals: list of (k, s, e) -> {k: (n_merged, covered, longest)}."""
    by_k = {}
    for k, s, e in intervals:
        by_k.setdefault(k, []).append((s, e))
    out = {}
    for k, ivs in by_k.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        lens = [e - s for s, e in merged]
        out[k] = (len(merged), sum(lens), max(lens))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=50),  # length
        ),
        min_size=1,
        max_size=40,
    )
)
def test_interval_union_matches_python_reference(spark, raw):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    intervals = [(k, s, s + ln) for k, s, ln in raw]
    df = spark.createDataFrame(intervals, "k long, s long, e long")
    w = W.partitionBy("k").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    isl = df.withColumn(
        "grp",
        F.sum(F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    merged = isl.groupBy("k", "grp").agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    got = {
        r["k"]: (r["n"], r["cov"], r["lng"])
        for r in merged.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("me") - F.col("ms")).alias("cov"),
            F.max(F.col("me") - F.col("ms")).alias("lng"),
        )
        .collect()
    }
    assert got == _union_py(intervals)


# ---------------------------------------------------------------------------
# Independent reference for market-basket pair counting: support counts per
# unordered pair of distinct items per basket, recomputed in pure Python.
# ---------------------------------------------------------------------------


def _pairs_py(baskets):
    """baskets: list of (order, item) -> {(a, b): support} with a < b."""
    by_o = {}
    for o, i in baskets:
        by_o.setdefault(o, set()).add(i)
    out = {}
    for items in by_o.values():
        s = sorted(items)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                out[(s[i], s[j])] = out.get((s[i], s[j]), 0) + 1
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # order
            st.integers(min_value=1, max_value=8),  # item
        ),
        min_size=1,
        max_size=40,
    )
)
def test_basket_pair_counts_match_python_reference(spark, baskets):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(baskets, "o long, i long").distinct()
    a, b = df.alias("a"), df.alias("b")
    got = {
        (r["pa"], r["pb"]): r["c"]
        for r in a.join(
            b, (F.col("a.o") == F.col("b.o")) & (F.col("a.i") < F.col("b.i"))
        )
        .groupBy(F.col("a.i").alias("pa"), F.col("b.i").alias("pb"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == _pairs_py(baskets)


# ---------------------------------------------------------------------------
# Independent reference for the RFM aggregate: recency/frequency/monetary
# recomputed by a pure-Python scan over generated event feeds.
# ---------------------------------------------------------------------------


def _rfm_py(events):
    """events: list of (user, ts_us, is_purchase, cents) -> per-user tuple."""
    now = max(t for _, t, _, _ in events)
    out = {}
    for u, t, p, c in events:
        r = out.setdefault(u, [0, 0, 0])
        r[0] = max(r[0], t)
        r[1] += 1
        r[2] += c if p else 0
    return {
        u: ((now - last) // 86_400_000_000, n, cents / 100.0)
        for u, (last, n, cents) in out.items()
    }


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=0, max_value=10**12),
            st.booleans(),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_rfm_aggregate_matches_python_reference(spark, events):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(events, "u long, ts long, p boolean, cents long")
    anchor = df.agg(F.max("ts").alias("now"))
    money = F.sum(F.when(F.col("p"), F.col("cents")).otherwise(0)) / 100.0
    got = {
        r["u"]: (r["rec"], r["n"], r["m"])
        for r in df.crossJoin(F.broadcast(anchor))
        .groupBy("u", "now")
        .agg(
            F.expr("(max(now) - max(ts)) div 86400000000").alias("rec"),
            F.count("*").alias("n"),
            money.alias("m"),
        )
        .collect()
    }
    assert got == _rfm_py(events)


# ---------------------------------------------------------------------------
# Independent reference for the decile bucketing formula floor((rn-1)*10/n):
# the exact integer semantics that differ between DuckDB's rounding CAST and
# Spark's truncating cast — pinned against pure Python so the intended
# meaning is explicit.
# ---------------------------------------------------------------------------


def _deciles_py(scores):
    """scores: list of (id, score) -> {id: decile} by (score desc, id)."""
    ranked = sorted(scores, key=lambda r: (-r[1], r[0]))
    n = len(ranked)
    return {i: (rn * 10) // n for rn, (i, _) in enumerate(ranked)}


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=100),  # integer scores force ties
        ),
        min_size=1,
        max_size=45,
        unique_by=lambda r: r[0],
    )
)
def test_decile_formula_matches_python_reference(spark, scores):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(scores, "id long, score long")
    ranked = df.select(
        "id", F.row_number().over(W.orderBy(F.desc("score"), "id")).alias("rn")
    ).crossJoin(F.broadcast(df.agg(F.count("*").alias("n"))))
    got = {
        r["id"]: r["d"]
        for r in ranked.select(
            "id", F.expr("((rn - 1) * 10) div n").alias("d")
        ).collect()
    }
    assert got == _deciles_py(scores)


# ---------------------------------------------------------------------------
# Independent reference for the Gopher rule battery: all five per-doc rules
# recomputed in pure Python over generated corpora.
# ---------------------------------------------------------------------------


def _gopher_py(docs, stopwords):
    """docs: list of token lists -> per-doc 5-tuple of rule booleans."""
    out = []
    for ws in docs:
        n = len(ws)
        n_chars = len(" ".join(ws))
        awl = n_chars / n
        alpha = sum(1 for w in ws if w.isalpha() and w.islower()) / n
        nstop = len({w for w in ws if w in stopwords})
        top = max(sum(1 for y in ws if y == w) for w in set(ws)) / n
        out.append(
            (
                30 <= n <= 100000,
                3 <= awl <= 10,
                alpha >= 0.8,
                nstop >= 2,
                top <= 0.2,
            )
        )
    return out


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["the", "a", "of", "zz", "q9", "longword", "x"]),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_gopher_rules_match_python_reference(spark, docs):
    from pyspark.sql import functions as F

    from spark_bam_spark.queries.text import STOPWORDS

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    ).withColumn("n_chars", F.length("text"))
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
    top = (
        F.expr(
            "array_max(transform(array_distinct(split(text, ' ')),"
            " x -> size(filter(split(text, ' '), y -> y = x))))"
        ).cast("double")
        / ntok
    )
    rows = df.select(
        "doc_id",
        ntok.between(30, 100000).alias("r1"),
        awl.between(3, 10).alias("r2"),
        (alpha >= 0.8).alias("r3"),
        (nstop >= 2).alias("r4"),
        (top <= 0.2).alias("r5"),
    ).collect()
    got = {r["doc_id"]: (r["r1"], r["r2"], r["r3"], r["r4"], r["r5"]) for r in rows}
    want = dict(enumerate(_gopher_py(docs, set(STOPWORDS))))
    assert got == want


# ---------------------------------------------------------------------------
# Independent reference for the add-one bigram LM: per-doc mean NLL
# recomputed in pure Python over generated corpora staged as parquet.
# ---------------------------------------------------------------------------


def _bigram_py(docs):
    import math as m

    bc, uc, vocab = {}, {}, set()
    for ws in docs:
        vocab.update(ws)
        for w1, w2 in zip(ws, ws[1:]):
            bc[(w1, w2)] = bc.get((w1, w2), 0) + 1
            uc[w1] = uc.get(w1, 0) + 1
    V = len(vocab)
    out = {}
    for i, ws in enumerate(docs):
        if len(ws) < 2:
            continue
        nll = [
            -m.log((bc[(w1, w2)] + 1.0) / (uc[w1] + V)) for w1, w2 in zip(ws, ws[1:])
        ]
        out[i] = (len(nll), round(sum(nll) / len(nll), 6))
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=10
        ),
        min_size=2,
        max_size=8,
    )
)
def test_bigram_lm_matches_python_reference(spark, docs):
    import tempfile

    import pandas as pd

    from spark_bam_spark.queries import load_all
    from spark_bam_spark.tables import TABLE_NAMES

    out = tempfile.mkdtemp(prefix="bigram_prop_")
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [" ".join(ws) for ws in docs],
            "lang": ["en"] * len(docs),
            "source": ["src0"] * len(docs),
            "n_chars": [len(" ".join(ws)) for ws in docs],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    for t in TABLE_NAMES:
        if t != "documents":
            spark.createDataFrame([], "x int").write.mode("overwrite").parquet(
                f"{out}/{t}.parquet"
            )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in load_all()["bigram_logprob_score"].fn(spark, out).collect()
    }
    assert got == _bigram_py(docs)


# ---------------------------------------------------------------------------
# Independent reference for connected components: the iterative min-label
# propagation (dedup_clusters' core) must agree with a classic sequential
# union-find on arbitrary small graphs — including multi-component graphs,
# chains (worst-case diameter), and isolated self-loops.
# ---------------------------------------------------------------------------


def _union_find_py(edges):
    """edges: list of (a, b) -> {node: min node id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=1, max_value=12),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_min_label_propagation_matches_union_find(spark, raw):
    from pyspark.sql import functions as F

    from spark_bam_spark.queries.dedup import _propagate_min_labels

    pairs = spark.createDataFrame(raw, "a long, b long")
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    got = {r["doc"]: r["lbl"] for r in _propagate_min_labels(edges).collect()}
    assert got == _union_find_py(raw)
