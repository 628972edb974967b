"""Short-document robustness: every text-shingling query must survive —
and stay oracle-exact on — documents with fewer words/chars than its
n-gram width.

The bug class this pins: Spark's ``sequence(1, 0)`` is DESCENDING
(``[1, 0]``), not empty like DuckDB's ``generate_series(1, 0)``.  An
unguarded ``transform(sequence(1, greatest(size(w) - k, 0)), ...)``
therefore evaluates its lambda at i=1 AND i=0 for a short doc: array
indices go out of bounds (ANSI error — the whole MinHash family crashed
on a 1-word doc) or ``substring(t, 0, 3)`` silently emits phantom grams
DuckDB never produces.  Real corpora are full of 1-2-word documents;
the sf fixtures contain none, which is why the oracle sweeps never saw
it.  The fixture here is sf0.001 with adversarial short docs appended.
"""

from __future__ import annotations

import os
import shutil

import pytest

from spark_bam_spark.queries import load_all
from tests.oracle import compare

REGISTRY = load_all()
_SWEEP = os.environ.get("SPARK_GRAFT_SHORTDOC_SWEEP") == "1"

SF_SRC = "/root/testdata/sf0.001"

# (doc_id, text, lang, source, n_chars) — every width below each n-gram
# guard in the package: empty, 1 char, 2 chars, 1 word, 2 words, 4 words
# (below the 5-gram decontamination width), 7 words (below the 8-gram
# substring-span width).
_SHORT_DOCS = [
    (900001, "", "en", "src0", 0),
    (900002, "a", "en", "src0", 1),
    (900003, "ab", "fr", "src1", 2),
    (900004, "one two", "en", "src1", 7),
    (900005, "x y", "es", "src2", 3),
    (900006, "w1 w2 w3 w4", "en", "src0", 11),
    (900007, "s1 s2 s3 s4 s5 s6 s7", "fr", "src2", 20),
]


@pytest.fixture(scope="module")
def short_doc_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("short_docs")
    for name in os.listdir(SF_SRC):
        if name.endswith(".parquet") and name != "documents.parquet":
            shutil.copy(os.path.join(SF_SRC, name), out / name)
    docs = spark.read.parquet(f"{SF_SRC}/documents.parquet")
    extra = spark.createDataFrame(_SHORT_DOCS, docs.schema)
    merged = docs.unionAll(extra).toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(merged, preserve_index=False), str(out / "documents.parquet"))
    return str(out)


# The five queries whose n-gram pipelines were unguarded (plus the two
# downstream MinHash consumers) — always run, this is the regression pin.
_PINNED = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "minhash_jaccard_estimate",
    "decontaminate_overlap",
    "lsh_quality_eval",
    "curation_pipeline_funnel",
    "langid_ngram_confusion",
    # moved to the inline-if guard class in r5 — pin the regression here too
    "dedup_substring_spans",
    "bigram_logprob_score",
]


@pytest.mark.parametrize("name", _PINNED)
def test_shingle_query_oracle_exact_on_short_docs(spark, short_doc_dir, name):
    compare(spark, name, REGISTRY[name], short_doc_dir)


# Env-gated: the whole table-backed oracle registry over the adversarial
# corpus (same shape as the empty-input sweep).
_TABLE_ORACLE_QUERIES = sorted(
    n
    for n, s in REGISTRY.items()
    if s.oracle is not None
    and not n.startswith(("bam_", "sam_", "compare_"))
)


@pytest.mark.skipif(not _SWEEP, reason="set SPARK_GRAFT_SHORTDOC_SWEEP=1 to run")
@pytest.mark.parametrize("name", _TABLE_ORACLE_QUERIES)
def test_query_oracle_exact_on_short_docs_sweep(spark, short_doc_dir, name):
    compare(spark, name, REGISTRY[name], short_doc_dir)
