"""Collocation pipeline: golden test on a hand-computable corpus
(FIXTURES.md §B edge cases), plus DuckDB differential at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from ngrams_collocations_hadoop_spark.functions.llr import llr_py
from ngrams_collocations_hadoop_spark.operators import collocations as co
from ngrams_collocations_hadoop_spark.sources.tables import stopwords_df


UNI_SCHEMA = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("token", T.StringType()),
    T.StructField("year", T.IntegerType()),
    T.StructField("occurrences", T.LongType()),
])
BIG_SCHEMA = T.StructType([
    T.StructField("lang", T.StringType()),
    T.StructField("token1", T.StringType()),
    T.StructField("token2", T.StringType()),
    T.StructField("year", T.IntegerType()),
    T.StructField("occurrences", T.LongType()),
])

# Hand-built corpus hitting FIXTURES.md edge cases 1-6:
UNI_ROWS = [
    # (lang, token, year, occ)
    ("en", "apple", 2003, 10),
    ("en", "apple", 2007, 5),      # same decade, summed → c1(apple)=15
    ("en", "pie_NOUN", 2003, 8),   # POS suffix cleaned → pie
    ("en", "--cherry--", 2001, 4), # edge punctuation → cherry
    ("en", "the", 2005, 99),       # stopword → excluded from counts AND N
    ("en", "tart", 2004, 3),
    ("en", "zero", 2002, 0),       # occ=0 → dropped
    ("en", "neg", 2002, -5),       # occ<0 → dropped
    ("en", "...", 2002, 7),        # cleans to empty → dropped
    ("en", "apple", 2013, 2),      # different decade
    ("fr", "apple", 2003, 6),      # different lang, same word
]
BIG_ROWS = [
    ("en", "apple", "pie_NOUN", 2003, 4),
    ("en", "apple", "pie", 2007, 2),       # same decade → c12(apple,pie)=6
    ("en", "the", "apple", 2005, 9),       # w1 stopword → dropped
    ("en", "apple", "the", 2005, 9),       # w2 stopword → dropped
    ("en", "ghost", "apple", 2003, 3),     # w1 has no unigram → join-dropped
    ("en", "apple", "tart", 2004, 1),
    ("en", "cherry", "tart", 2001, 2),
    ("en", "apple", "pie", 2013, 1),       # different decade
    ("fr", "apple", "pie", 2003, 1),       # fr: no 'pie' unigram → dropped
]


@pytest.fixture(scope="module")
def pipeline(spark):
    stop = stopwords_df(spark)
    uni = co.clean_unigrams(
        spark.createDataFrame(UNI_ROWS, UNI_SCHEMA), stop)
    big = co.clean_bigrams(
        spark.createDataFrame(BIG_ROWS, BIG_SCHEMA), stop)
    c1 = co.unigram_counts(uni)
    c12 = co.bigram_counts(big)
    n = co.totals(uni)
    scored = co.score_collocations(c12, c1, n)
    return {"uni": uni, "big": big, "c1": c1, "c12": c12, "n": n,
            "scored": scored}


def test_unigram_counts_golden(pipeline):
    got = {(r["lang"], r["decade"], r["word"]): r["c1"]
           for r in pipeline["c1"].collect()}
    assert got == {
        ("en", 2000, "apple"): 15,
        ("en", 2000, "pie"): 8,
        ("en", 2000, "cherry"): 4,
        ("en", 2000, "tart"): 3,
        ("en", 2010, "apple"): 2,
        ("fr", 2000, "apple"): 6,
    }


def test_totals_golden(pipeline):
    got = {(r["lang"], r["decade"]): r["n_total"]
           for r in pipeline["n"].collect()}
    # 'the' (stopword), occ<=0, and empty-cleaned rows excluded from N
    assert got == {("en", 2000, ): 30, ("en", 2010): 2, ("fr", 2000): 6}


def test_bigram_counts_golden(pipeline):
    got = {(r["lang"], r["decade"], r["w1"], r["w2"]): r["c12"]
           for r in pipeline["c12"].collect()}
    assert got == {
        ("en", 2000, "apple", "pie"): 6,   # summed across years in decade
        ("en", 2000, "ghost", "apple"): 3,  # survives until the join
        ("en", 2000, "apple", "tart"): 1,
        ("en", 2000, "cherry", "tart"): 2,
        ("en", 2010, "apple", "pie"): 1,
        ("fr", 2000, "apple", "pie"): 1,
    }


def test_scored_golden(pipeline):
    rows = {(r["lang"], r["decade"], r["w1"], r["w2"]): r
            for r in pipeline["scored"].collect()}
    # ghost→ no unigram for w1 → inner-join drop (reference Job1.java:284)
    assert ("en", 2000, "ghost", "apple") not in rows
    # fr apple pie: no 'pie' unigram in fr → drop (per-lang join keys)
    assert ("fr", 2000, "apple", "pie") not in rows
    # en 2010 apple pie: c12=1 but no 'pie' unigram in 2010 → drop
    assert ("en", 2010, "apple", "pie") not in rows
    expected_keys = {("en", 2000, "apple", "pie"),
                     ("en", 2000, "apple", "tart"),
                     ("en", 2000, "cherry", "tart")}
    assert set(rows) == expected_keys
    r = rows[("en", 2000, "apple", "pie")]
    assert (r["c1"], r["c2"], r["c12"], r["n_total"]) == (15, 8, 6, 30)
    assert r["llr"] == pytest.approx(llr_py(15, 8, 6, 30), abs=1e-6)


def test_topk_cutoff_and_tiebreak(spark):
    # >K distinct bigrams in one group; ties at the boundary broken by (w1, w2)
    uni_rows = [("en", f"w{i:03d}", 2000, 100) for i in range(30)]
    big_rows = []
    for i in range(29):
        big_rows.append(("en", f"w{i:03d}", f"w{(i + 1):03d}", 2000, 1))
    stop = stopwords_df(spark)
    uni = co.clean_unigrams(spark.createDataFrame(uni_rows, UNI_SCHEMA), stop)
    big = co.clean_bigrams(spark.createDataFrame(big_rows, BIG_SCHEMA), stop)
    scored = co.score_collocations(
        co.bigram_counts(big), co.unigram_counts(uni), co.totals(uni))
    top = co.top_collocations(scored, k=10).collect()
    assert len(top) == 10
    # all LLRs identical by symmetry → pure lexicographic tiebreak
    assert [r["bigram"] for r in top] == [
        f"w{i:03d} w{(i + 1):03d}" for i in range(10)]
    assert [r["rank"] for r in top] == list(range(1, 11))


# (registry-wide DuckDB differential coverage lives in test_registry.py)


def test_hebrew_pipeline_parity(spark):
    """The derived Hebrew corpus is isomorphic to the English one under
    the injective transliteration, so the he top-k must be exactly the
    en top-k with every bigram transliterated (stopword lists
    correspond; LLR depends only on counts, which the bijection
    preserves)."""
    from ngrams_collocations_hadoop_spark.constants import to_hebrew
    from ngrams_collocations_hadoop_spark.operators.collocations import (
        q_hebrew_topk, q_topk,
    )
    sf = "/root/testdata/sf0.001"
    he = {(r["decade"], r["bigram"]): (r["llr"], r["rank"])
          for r in q_hebrew_topk(spark, sf).collect()}
    assert he and all(k[1] for k in he)  # nonempty, he rows present
    en = {(r["decade"], to_hebrew(r["bigram"])): (r["llr"], r["rank"])
          for r in q_topk(spark, sf).collect()
          if r["lang"] == "en"}
    assert he == en


def test_hebrew_stopwords_are_transliterated_core(spark):
    from ngrams_collocations_hadoop_spark.constants import (
        STOPWORDS, to_hebrew,
    )
    assert to_hebrew("the") in STOPWORDS["he"]
    # transliteration leaves digits/punctuation alone, maps all a-z
    assert to_hebrew("a1-b2") != "a1-b2"
    assert all(ch not in "abcdefghijklmnopqrstuvwxyz"
               for ch in to_hebrew("abcdefghijklmnopqrstuvwxyz"))


def test_deterministic_quirk_topk_diverges_and_is_stable(spark):
    """The driver-adjudicable quirk surface (doc-block map tasks +
    md5-bucket reducers) must (a) diverge from the exact flagship the
    way the reference's bugs do — same bigrams, perturbed llr — and
    (b) be bit-stable across runs and partitionings (unlike the
    spark_partition_id form, which is physical-layout-dependent)."""
    from .conftest import SF_SMALL

    exact = {(r.lang, r.decade, r.bigram): r.llr
             for r in co.q_topk(spark, SF_SMALL).collect()}
    q1 = {(r.lang, r.decade, r.bigram, r.rank): r.llr
          for r in co.q_topk_quirk(spark, SF_SMALL).collect()}
    # a fresh plan, not the memoized handle: re-collecting that one
    # would reuse its shuffle outputs instead of running again
    co._COLLOC_MEMO.clear()
    q2 = {(r.lang, r.decade, r.bigram, r.rank): r.llr
          for r in co.q_topk_quirk(spark, SF_SMALL).collect()}
    assert q1 == q2                       # deterministic
    # NOTE: no row-count relation between the two is an invariant —
    # fragments ADD rows, but the smaller quirk N can also flip the
    # llr integer guards and REMOVE bigrams that pass in exact mode.
    assert len(q1) > 0 and len(exact) > 0
    # the quirky N / fragmented c12 must actually perturb scores
    assert any(exact.get((l, d, b)) not in (None, llr)
               for (l, d, b, _), llr in q1.items())


def test_quirk_det_aggregation_invariants(spark):
    """Structural invariants of the deterministic quirk surrogates,
    on the real fixture: (1) quirk-1 fragments PARTITION the exact
    c12 — per-bigram fragment sums equal the exact counts exactly;
    (2) quirk-2's N is one bucket's partial — strictly positive and
    <= the exact N for every (lang, decade)."""
    from pyspark.sql import functions as F

    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.sources.ngram_source import (
        bigram_records, unigram_records,
    )

    stop = stopwords_df(spark)
    big = co.clean_bigrams(bigram_records(spark, SF_SMALL, keep_doc=True),
                           stop, carry=("doc_id",))
    frag = spark.sql(co.c12_quirk_sql("{big}"), big=big)
    refold = {tuple(r[:4]): r[4] for r in
              (frag.groupBy("lang", "decade", "w1", "w2")
               .agg(F.sum("c12").alias("c12")).collect())}
    exact = {tuple(r[:4]): r[4] for r in
             co.bigram_counts(big.drop("doc_id")).collect()}
    assert refold == exact
    assert frag.count() > len(exact)   # fragmentation really happened

    uni = co.clean_unigrams(unigram_records(spark, SF_SMALL), stop)
    c1 = co.unigram_counts(uni)
    qn = {(r.lang, r.decade): r.n_total
          for r in spark.sql(co.n_quirk_sql("{c1}"), c1=c1).collect()}
    en = {(r.lang, r.decade): r.n_total for r in co.totals(uni).collect()}
    assert set(qn) == set(en)
    assert all(0 < qn[k] <= en[k] for k in qn)
    assert any(qn[k] < en[k] for k in qn)   # genuinely partial somewhere


# --- plan memo (co._COLLOC_MEMO) ------------------------------------------

def _memo_entry(key):
    """The stored (session, app, state, df, pins) entry for ``key``."""
    return co._COLLOC_MEMO._entries[key]


def test_topk_plan_memo_hit_is_identical_and_matches_oracle(spark):
    """A warm q_topk call returns the very handle the first call built
    (no Column-tree rebuild), and that handle still matches the oracle."""
    from .conftest import SF_SMALL
    from .util_diff import assert_query_matches_oracle

    co._COLLOC_MEMO.clear()
    a = co.q_topk(spark, SF_SMALL)
    assert co.q_topk(spark, SF_SMALL) is a
    # the scored prefix is memoized too, so the ngrams composers share it
    assert co.q_scored(spark, SF_SMALL) is co.q_scored(spark, SF_SMALL)
    assert_query_matches_oracle(spark, "colloc_topk", SF_SMALL)
    assert co.q_topk(spark, SF_SMALL) is a


def test_topk_plan_memo_keys_on_k(spark):
    from .conftest import SF_SMALL

    co._COLLOC_MEMO.clear()
    base = co.q_topk(spark, SF_SMALL)
    k5 = co.q_topk(spark, SF_SMALL, k=5)
    assert k5 is not base
    assert not k5.sameSemantics(base)
    assert co.q_topk(spark, SF_SMALL, k=5) is k5
    assert co.q_topk(spark, SF_SMALL) is base
    keys = set(co._COLLOC_MEMO._entries)
    assert {("topk", SF_SMALL, co.TOP_K), ("topk", SF_SMALL, 5),
            ("scored", SF_SMALL, None)} <= keys


def test_topk_plan_memo_rebuilds_on_in_place_rewrite(spark, tmp_path):
    """Rewriting documents.parquet in place moves the corpus state: the
    next call misses, builds a fresh plan over the new file, and that
    plan matches the oracle on the NEW data."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from .conftest import SF_SMALL
    from .util_diff import assert_query_matches_oracle

    d = str(tmp_path)
    for f in os.listdir(SF_SMALL):
        shutil.copyfile(os.path.join(SF_SMALL, f), os.path.join(d, f))
    co._COLLOC_MEMO.clear()
    a = co.q_topk(spark, d)
    old_rows = sorted(map(tuple, a.collect()))
    assert co.q_topk(spark, d) is a

    docs = f"{d}/documents.parquet"
    t = pq.read_table(docs)
    pq.write_table(t.slice(0, t.num_rows // 2), docs)   # same path
    b = co.q_topk(spark, d)
    assert b is not a
    assert sorted(map(tuple, b.collect())) != old_rows
    assert_query_matches_oracle(spark, "colloc_topk", d)
    assert co.q_topk(spark, d) is b


def test_topk_plan_memo_misses_on_new_application_id(spark):
    """An entry stored under another applicationId (a stopped and
    recreated context behind the same session object) is never served."""
    from .conftest import SF_SMALL

    co._COLLOC_MEMO.clear()
    a = co.q_topk(spark, SF_SMALL)
    key = ("topk", SF_SMALL, co.TOP_K)
    co._COLLOC_MEMO._entries[key] = _memo_entry(key)._replace(
        app="app-stopped")
    b = co.q_topk(spark, SF_SMALL)
    assert b is not a and b.sameSemantics(a)
    assert _memo_entry(key).app == spark.sparkContext.applicationId


def test_topk_plan_memo_hit_restores_session_confs(spark):
    """A hit skips the builder, so it must still pin the correctness
    confs a caller-built session may have reset between calls."""
    from .conftest import SF_SMALL

    co._COLLOC_MEMO.clear()
    a = co.q_topk(spark, SF_SMALL)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert co.q_topk(spark, SF_SMALL) is a
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# --- edge documents through the whole flagship family ---------------------

EDGE_DOCS = [
    # (doc_id, text, lang)
    (1, "", "en"),                           # empty text: one '' token
    (2, None, "en"),                         # NULL text: no tokens
    (3, "solo", "en"),                       # one token: no pairs
    (4, "the a of and to is", "en"),         # all stopwords
    (5, "-- apple _x pie ... _ apple", "en"),  # tokens cleaning to ''
    (6, "apple_NOUN pie_NOUN tart_ADJ", "en"),  # POS suffixes
    (7, "red order form red order", "es"),   # 'order': stopword in es ...
    (8, "red order form red order", "en"),   # ... but not in en
    (-3, "apple pie apple pie", "en"),       # occ = 1 + (-3 % 5) <= 0
    (-5, "apple pie tart", "en"),            # occ 1, year 1995
    (9, "apple  pie apple pie ", "en"),      # double and trailing blank
    (10, "Apple PIE apple pie tart", "en"),  # case folding
    (11, "apple pie tart apple pie", "en"),
    (12, "apple pie is apple tart", "en"),   # stopword between pairs
    (13, "red form red form order", "es"),
    (14, "Éclair café éclair café", "fr"),
    (15, "red form red order", None),        # NULL lang
]

EDGE_QUERIES = ["colloc_topk", "colloc_scored", "colloc_topk_quirk",
                "colloc_hebrew_topk", "colloc_unigram_counts",
                "colloc_bigram_counts", "colloc_totals", "colloc_topk_sql"]


def test_flagship_family_on_edge_documents(spark, tmp_path):
    """Hand-made documents through every flagship and count query,
    each equal to its DuckDB oracle as strict canonical text (floats
    rounded to 6 places, then stringified). Covers the edges of the
    per-document cleaned array: an empty or NULL text, one token (no
    pairs; an unsliced
    ``cw[i + 1]`` raises INVALID_ARRAY_INDEX on the last token under
    ANSI mode), only stopwords, tokens that clean to '', a stopword of
    one language that is a word in another, and a negative doc_id
    whose occurrences are <= 0."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .conftest import SF_SMALL
    from .test_registry_fuzz import run_fuzz

    d = str(tmp_path)
    for f in os.listdir(SF_SMALL):
        shutil.copyfile(os.path.join(SF_SMALL, f), os.path.join(d, f))
    ids, texts, langs = zip(*EDGE_DOCS)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["edge"] * len(ids), pa.string()),
        "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
    }), f"{d}/documents.parquet")
    co._COLLOC_MEMO.clear()
    assert not run_fuzz(spark, d, EDGE_QUERIES)
    top = co.q_topk(spark, d).collect()
    assert {r.bigram for r in top} >= {"apple pie", "red order"}
    assert not [r for r in top if r.lang == "es" and "order" in r.bigram]
