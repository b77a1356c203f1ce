"""Property-based differential test: the full collocation pipeline vs
an independent pure-Python implementation of the same semantics, over
hypothesis-generated corpora. Catches semantic drift that fixed
fixtures cannot (random stopword hits, guard-branch inputs, cross-year
decade merges, join-drop cases)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ngrams_collocations_hadoop_spark.constants import STOPWORDS
from ngrams_collocations_hadoop_spark.functions.llr import llr_py
from ngrams_collocations_hadoop_spark.functions.text import clean_token_ref
from ngrams_collocations_hadoop_spark.operators import collocations as co
from ngrams_collocations_hadoop_spark.sources.tables import stopwords_df

from .test_collocations import BIG_SCHEMA, UNI_SCHEMA

# small vocab with cleanable variants so collisions + cleaning both fire
TOKENS = ["apple", "Pie_NOUN", "--tart--", "the", "a", "émigré", "x1",
          "", "...", "row"]
LANGS = ["en", "de"]
YEARS = [1999, 2000, 2005, 2013]

uni_row = st.tuples(st.sampled_from(LANGS), st.sampled_from(TOKENS),
                    st.sampled_from(YEARS), st.integers(-2, 9))
big_row = st.tuples(st.sampled_from(LANGS), st.sampled_from(TOKENS),
                    st.sampled_from(TOKENS), st.sampled_from(YEARS),
                    st.integers(-2, 9))


def _py_pipeline(uni_rows, big_rows):
    """Independent reimplementation of the reference semantics."""
    def ok(lang, tok, occ):
        w = clean_token_ref(tok)
        return (w if occ > 0 and w and w not in STOPWORDS.get(lang, ())
                else None)

    c1: dict = defaultdict(int)
    n: dict = defaultdict(int)
    for lang, tok, year, occ in uni_rows:
        w = ok(lang, tok, occ)
        if w is None:
            continue
        dec = (year // 10) * 10
        c1[(lang, dec, w)] += occ
        n[(lang, dec)] += occ
    c12: dict = defaultdict(int)
    for lang, t1, t2, year, occ in big_rows:
        w1, w2 = ok(lang, t1, occ), ok(lang, t2, occ)
        if w1 is None or w2 is None:
            continue
        dec = (year // 10) * 10
        c12[(lang, dec, w1, w2)] += occ
    scored = {}
    for (lang, dec, w1, w2), v12 in c12.items():
        v1 = c1.get((lang, dec, w1))
        v2 = c1.get((lang, dec, w2))
        if v1 is None or v2 is None:
            continue  # inner-join drop
        total = n[(lang, dec)]
        # guard filter (P7): identical to the valid predicate
        if not (v12 > 0 and v1 > 0 and v2 > 0 and total > 0
                and v1 - v12 >= 0 and v2 - v12 >= 0
                and total - v1 - v2 + v12 >= 0):
            continue
        scored[(lang, dec, w1, w2)] = (v1, v2, v12, total,
                                       llr_py(v1, v2, v12, total))
    return scored


@given(uni=st.lists(uni_row, min_size=0, max_size=25),
       big=st.lists(big_row, min_size=0, max_size=25))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_pipeline_matches_python_reference(spark, uni, big):
    stop = stopwords_df(spark)
    uni_df = co.clean_unigrams(
        spark.createDataFrame(uni, UNI_SCHEMA) if uni
        else spark.createDataFrame([], UNI_SCHEMA), stop)
    big_df = co.clean_bigrams(
        spark.createDataFrame(big, BIG_SCHEMA) if big
        else spark.createDataFrame([], BIG_SCHEMA), stop)
    got_df = co.score_collocations(
        co.bigram_counts(big_df), co.unigram_counts(uni_df),
        co.totals(uni_df))
    got = {(r["lang"], r["decade"], r["w1"], r["w2"]):
           (r["c1"], r["c2"], r["c12"], r["n_total"], r["llr"])
           for r in got_df.collect()}
    expected = _py_pipeline(uni, big)
    assert set(got) == set(expected)
    for k, (e1, e2, e12, en, ellr) in expected.items():
        g1, g2, g12, gn, gllr = got[k]
        assert (g1, g2, g12, gn) == (e1, e2, e12, en), k
        assert gllr == pytest.approx(ellr, abs=1e-6), k


def test_empty_corpus_yields_empty_result(spark):
    stop = stopwords_df(spark)
    uni = co.clean_unigrams(spark.createDataFrame([], UNI_SCHEMA), stop)
    big = co.clean_bigrams(spark.createDataFrame([], BIG_SCHEMA), stop)
    out = co.top_collocations(co.score_collocations(
        co.bigram_counts(big), co.unigram_counts(uni), co.totals(uni)))
    assert out.count() == 0
    assert out.columns == ["lang", "decade", "bigram", "llr", "rank"]


def test_ingest_pipeline_accounting(spark):
    """The shard summary's doc count must equal: quality-passing new
    docs minus (exact-dropped ∪ near-dropped) quality-passers — i.e.
    the composition drops exactly what its stages say it drops, no
    double counting across shards."""
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        NEW_BATCH_MOD, q_dedup_incremental_lsh,
    )
    from ngrams_collocations_hadoop_spark.operators.pipeline import (
        _quality_survivors, q_ingest_pipeline,
    )
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    from .conftest import SF_SMALL

    total = sum(r.n_docs for r in
                q_ingest_pipeline(spark, SF_SMALL).collect())

    q_new = {r.doc_id for r in _quality_survivors(spark, SF_SMALL)
             .filter(F.col("doc_id") % NEW_BATCH_MOD == 0).collect()}
    docs = load_table(spark, SF_SMALL, "documents") \
        .select("doc_id", F.md5("text").alias("fp")).collect()
    by_fp = {}
    for r in docs:
        by_fp.setdefault(r.fp, []).append(r.doc_id)
    exact = set()
    for ids in by_fp.values():
        for i in ids:
            if i % NEW_BATCH_MOD == 0 and any(
                    (j % NEW_BATCH_MOD != 0 or j < i)
                    and j != i for j in ids):
                exact.add(i)
    near = set()
    for r in q_dedup_incremental_lsh(spark, SF_SMALL).collect():
        if r.doc_match % NEW_BATCH_MOD == 0:
            near.add(r.doc_match)
        else:
            near.add(r.doc_new)
    assert total == len(q_new - exact - near)


def test_decontaminate_drops_overlapping_train_doc(spark, tmp_path):
    """Pins the drop path: a train doc sharing ~8/9 of its shingles
    with a benchmark (test-split) doc must be dropped; an unrelated
    train doc survives. The split is content-hashed, so the crafted
    texts are SEARCHED (same md5 rule in plain Python) rather than
    hardcoded — identical text always lands in one split, which is
    exactly why the overlap must be crafted as a superstring."""
    import hashlib

    from pyspark.sql import functions as F  # noqa: F401

    from ngrams_collocations_hadoop_spark.operators.pipeline import (
        q_decontaminate)
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        SPLIT_TRAIN_BUCKETS)

    def is_train(text: str) -> bool:
        return int(hashlib.md5(text.encode()).hexdigest()[:6], 16) \
            % 10 < SPLIT_TRAIN_BUCKETS

    base = None
    for i in range(1000):
        t = " ".join(f"w{i}t{j}" for j in range(12))
        if not is_train(t):                      # benchmark member
            sup = t + " extra"
            if is_train(sup):                    # contaminated train doc
                base = (t, sup)
                break
    assert base, "no (test, train-superstring) pair found in 1000 tries"
    test_doc, contaminated = base
    clean = None
    for i in range(1000):
        t = " ".join(f"c{i}x{j}" for j in range(12))
        if is_train(t):
            clean = t
            break
    rows = [(1, test_doc, "en", "s", len(test_doc)),
            (2, contaminated, "en", "s", len(contaminated)),
            (3, clean, "en", "s", len(clean))]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = str(tmp_path)
    df.write.parquet(f"{d}/documents.parquet")

    out = {r.lang: r.asDict() for r in q_decontaminate(spark, d).collect()}
    en = out["en"]
    assert en["n_train"] == 2 and en["n_dropped"] == 1 \
        and en["n_kept"] == 1, en
    assert en["kept_chars"] == len(clean), en
    assert abs(en["dropped_frac"] - 0.5) < 1e-9, en
