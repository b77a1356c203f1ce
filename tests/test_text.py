"""Token cleaning (P3) and decade bucketing (P6) — column expression vs
the faithful Python port of reference NGramUtils.java:29-39 / :8."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMALL
from ngrams_collocations_hadoop_spark.functions.text import (
    clean_token, clean_token_ref, decade,
)

# Edge cases from FIXTURES.md §"Edge-case rows" + Unicode sweep
CASES = [
    "hello",
    "Hello_NOUN",
    "_NOUN",
    "__",
    "",
    "   ",
    "--hello--",
    "'tis",
    "don't",
    "123abc...",
    "...",
    "a_b_c",
    "שלום",
    "--שלום!!",
    "中文词",
    "¡hola!",
    "CAFÉ_ADJ",
    "naïve",
    "x",
    "_",
    "a_",
    "_a_b",
    "te_st_POS extra",
    " spaced token ",
    "ALL_CAPS_VERB",
    "end.",
    "(paren)",
    "émigré_NOUN",
    "Ω_SYM",
    "½",        # No (Number, other) — is alnum in both \p{N} and unicodedata
    "©",
]


def test_clean_token_matches_reference_port(spark):
    df = spark.createDataFrame([(c,) for c in CASES], ["raw"])
    got = {r["raw"]: r["cleaned"]
           for r in df.select("raw", clean_token(F.col("raw")).alias("cleaned")).collect()}
    for c in CASES:
        assert got[c] == clean_token_ref(c), f"case {c!r}: spark={got[c]!r} ref={clean_token_ref(c)!r}"


@pytest.mark.parametrize("raw,expected", [
    ("Hello_NOUN", "hello"),
    ("_NOUN", "noun"),       # '_' at pos 0 is NOT a POS separator (idx > 0)
    ("--hello--", "hello"),
    ("a_b_c", "a"),
    ("123abc...", "123abc"),
    ("...", ""),
    ("", ""),
])
def test_clean_token_ref_cases(raw, expected):
    assert clean_token_ref(raw) == expected


# Full-vs-simple Unicode case mapping hazards: Java/Spark/Python all
# lowercase İ (U+0130) to i+U+0307 and apply the contextual final-sigma
# rule; DuckDB's utf8proc lower() does neither, so the oracle dialect
# of clean_token_sql carries an explicit emulation
# (functions/text.py::_java_lower_duckdb). This pins all three
# implementations to the same value on the divergent inputs.
CASE_HAZARDS = [
    "İstanbul", "İ", "İİ", "I", "ı", "ΘΕΟΣ", "ΑΣ", "ΣΙΓΜΑ", "ΣΣ",
    "Σ", "ǅungla", "ＦＵＬＬ", "ß", "ẞ", "ﬁle", "Straße", "ОДИН",
    "σοφος", "λόγος",   # author-typed final-position lowercase sigma σ
]


def test_clean_token_duckdb_oracle_matches_spark_and_ref(spark):
    import duckdb

    from ngrams_collocations_hadoop_spark.functions.text import (
        clean_token_sql,
    )
    con = duckdb.connect()
    expr = clean_token_sql("s")          # duckdb dialect (default)
    cases = CASES + CASE_HAZARDS
    duck = {c: con.execute(f"SELECT {expr} FROM (SELECT ? AS s)",
                           [c]).fetchone()[0] for c in cases}
    df = spark.createDataFrame([(c,) for c in cases], ["raw"])
    got = {r["raw"]: r["cleaned"] for r in
           df.select("raw",
                     clean_token(F.col("raw")).alias("cleaned")).collect()}
    for c in cases:
        ref = clean_token_ref(c)
        assert duck[c] == got[c] == ref, (
            f"case {c!r}: duck={duck[c]!r} spark={got[c]!r} ref={ref!r}")


def test_clean_token_spark_sql_is_the_column_expression(spark):
    """The Spark dialect of clean_token_sql (the registered SQL
    function, the flagship text) and the clean_token Column are one
    Catalyst expression, so no surface cleans with a different plan."""
    from ngrams_collocations_hadoop_spark.functions.text import (
        clean_token_sql,
    )
    df = spark.createDataFrame([(c,) for c in CASES], ["t"])
    sql = df.selectExpr(clean_token_sql("t", "spark"))
    assert sql.sameSemantics(df.select(clean_token(F.col("t"))))
    assert [r[0] for r in sql.collect()] == [clean_token_ref(c)
                                             for c in CASES]


def test_decade(spark):
    df = spark.createDataFrame([(y,) for y in [1999, 2000, 2001, 2009, 2010, 2029, 1900]], ["y"])
    got = [r["d"] for r in df.select(decade(F.col("y")).alias("d")).orderBy("y").collect()]
    assert got == [1900, 1990, 2000, 2000, 2000, 2010, 2020]


def test_repetition_single_token_doc_guard(spark):
    """sequence(0, -1) yields a DESCENDING ramp, not [] — single-token
    docs must short-circuit to zero bigrams (and hence drop from the
    inner-join output), not error or fabricate bigrams."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_repetition)

    # doc 3 needs > 20 DISTINCT tokens: with u unique tokens the trivial
    # floors are top_token_frac = 1/u and top_bigram_frac = 1/(u-1), and
    # both must fall under the flag thresholds (0.12 / 0.05).
    long_uniq = " ".join(f"tok{i}" for i in range(21))
    rows = [(1, "solo", "en", "s", 4), (2, "a b a b a b", "en", "s", 11),
            (3, long_uniq, "en", "s", len(long_uniq))]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    import tempfile
    d = tempfile.mkdtemp(prefix="rep_")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r.asDict() for r in q_repetition(spark, d).collect()}
    assert 1 not in out            # no bigrams → inner join drops it
    assert out[2]["repetitive"] == 1   # 'a b' dominates
    assert out[2]["top_token_frac"] == 0.5
    assert out[3]["repetitive"] == 0   # all grams unique


def test_shingle_short_doc_guard(spark):
    """sequence(1, 0) yields [1, 0] (descending default step), and
    slice(toks, 0, n) then throws at runtime — docs shorter than the
    shingle width must produce ZERO shingles and drop out cleanly in
    both q_dup_spans and q_text_contamination."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_contamination, q_dup_spans)

    long_txt = " ".join(f"w{i}" for i in range(12))
    rows = [(1, "too short", "en", "s", 9),
            (2, "a b c d", "en", "s", 7),          # exactly N-1 tokens
            (3, long_txt, "en", "s", len(long_txt))]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    import tempfile
    d = tempfile.mkdtemp(prefix="shingle_")
    df.write.parquet(f"{d}/documents.parquet")
    spans = {r["doc_id"]: r.asDict() for r in
             q_dup_spans(spark, d).collect()}
    assert set(spans) == {3}            # short docs have no shingles
    assert spans[3]["n_shingles"] == 8  # 12 - 5 + 1
    # contamination must also run without error on the same fixture
    q_contamination(spark, d).collect()


def test_dup_span_positions_merges_runs(spark):
    """Two docs sharing a 7-token run must each report ONE merged
    interval covering exactly that run (three overlapping df>1
    shingles compress into a single island), and a doc with two
    separated shared runs must report two intervals."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_dup_span_positions)

    shared = "s1 s2 s3 s4 s5 s6 s7"          # 7 tokens → 3 shingles
    d1 = f"a1 a2 {shared} a3 a4"             # run covers tokens 3..9
    d2 = f"b1 b2 b3 {shared}"                # run covers tokens 4..10
    # d3: the same run twice, separated by >1 unique token → 2 islands
    d3 = f"{shared} c1 c2 c3 {shared}"
    rows = [(1, d1, "en", "s", len(d1)), (2, d2, "en", "s", len(d2)),
            (3, d3, "en", "s", len(d3))]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    import tempfile
    d = tempfile.mkdtemp(prefix="spanpos_")
    df.write.parquet(f"{d}/documents.parquet")
    got = {(r["doc_id"], r["span_id"]):
           (r["start_tok"], r["end_tok"], r["n_shingles"])
           for r in q_dup_span_positions(spark, d).collect()}
    assert got[(1, 1)] == (3, 9, 3) and len(
        [k for k in got if k[0] == 1]) == 1
    assert got[(2, 1)] == (4, 10, 3) and len(
        [k for k in got if k[0] == 2]) == 1
    d3_spans = sorted(v[:2] for k, v in got.items() if k[0] == 3)
    assert d3_spans == [(1, 7), (11, 17)]

    # the removal pass must cut exactly those intervals and keep every
    # doc in the output — including ones with nothing to remove
    import hashlib

    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_dup_span_removal)
    rem = {r["doc_id"]: r.asDict() for r in
           q_dup_span_removal(spark, d).collect()}
    assert set(rem) == {1, 2, 3}
    assert (rem[1]["n_tokens_in"], rem[1]["n_tokens_out"]) == (11, 4)
    assert rem[1]["cleaned_md5"] == hashlib.md5(
        b"a1 a2 a3 a4").hexdigest()
    assert rem[3]["n_tokens_out"] == 3      # only c1 c2 c3 survive
    assert rem[3]["cleaned_md5"] == hashlib.md5(
        b"c1 c2 c3").hexdigest()
    assert rem[1]["removed_fraction"] == round(7 / 11, 6)


def test_span_positions_and_removal_agree_on_fixture_corpus(spark):
    """Cross-operator invariant on the real fixture: per document, the
    total token span covered by the reported intervals must equal
    exactly the number of tokens the removal pass dropped."""
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_dup_span_positions, q_dup_span_removal)
    sf = "/root/testdata/sf0.001"
    spans = (q_dup_span_positions(spark, sf)
             .groupBy("doc_id")
             .agg(F.sum("span_tokens").alias("covered")))
    rem = q_dup_span_removal(spark, sf).select(
        "doc_id", (F.col("n_tokens_in") - F.col("n_tokens_out"))
        .alias("dropped"))
    joined = rem.join(spans, on="doc_id", how="left") \
        .withColumn("covered", F.coalesce("covered", F.lit(0)))
    bad = joined.filter(F.col("covered") != F.col("dropped")).count()
    assert bad == 0
    assert joined.filter(F.col("dropped") > 0).count() > 0


def test_clean_token_null_returns_empty(spark):
    """clean_token(NULL) must be '' (reference cleanToken never returns
    null), matching the Python mirror clean_token_ref."""
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.functions.text import clean_token
    row = spark.sql("SELECT CAST(NULL AS STRING) AS t") \
        .select(clean_token(F.col("t")).alias("c")).collect()[0]
    assert row["c"] == ""


def test_winnow_guarantee_shared_run_shares_fingerprint(spark, tmp_path):
    """Winnowing's core guarantee (Schleimer et al. §3): any two
    documents sharing a token run of length >= WINNOW_W + SHINGLE_N - 1
    must share at least one selected fingerprint. Also: a doc shorter
    than SHINGLE_N tokens yields no fingerprints; a doc with fewer than
    WINNOW_W shingles still yields its global min."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        SHINGLE_N, WINNOW_W, q_winnow_fingerprints,
    )

    run = " ".join(f"shared{i}" for i in range(WINNOW_W + SHINGLE_N - 1))
    docs = [
        (1, "alpha beta gamma " + run + " delta epsilon", "en", "s", 0),
        (2, run + " zeta eta theta iota kappa", "en", "s", 0),
        (3, "too short", "en", "s", 0),                  # < SHINGLE_N
        (4, "one two three four five six", "en", "s", 0),  # 2 shingles < W
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.parquet(f"{sf}/documents.parquet")
    fps = q_winnow_fingerprints(spark, sf).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert 3 not in by_doc
    assert len(by_doc[4]) >= 1


def test_gap_fill_spine_and_locf_semantics(spark):
    """The filled series must be dense (|types| x |hours| rows), flag
    exactly the spine rows with no source data, and every filled row
    must carry the most recent observed value (0.0 before the first)."""
    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_gap_fill,
    )

    rows = q_gap_fill(spark, SF_SMALL).orderBy("event_type", "hour") \
        .collect()
    types = {r.event_type for r in rows}
    hours = {r.hour for r in rows}
    assert len(rows) == len(types) * len(hours)
    last = {}
    for r in rows:
        if r.filled:
            assert r.value_ff == last.get(r.event_type, 0.0), r
        else:
            last[r.event_type] = r.value_ff


def test_ewma_matches_pandas_adjust_form(spark, tmp_path):
    """For a series shorter than the truncation horizon EWMA_H, the
    operator must agree with pandas' ewm(alpha, adjust=True) exactly
    (same weights, full history); values are chosen micro-unit exact."""
    import datetime

    import pandas as pd

    from ngrams_collocations_hadoop_spark.operators.relational import (
        EWMA_ALPHA, EWMA_H, q_ewma,
    )

    vals = [1.5, 2.25, 0.75, 4.0, 3.125, 0.0, 2.5]
    assert len(vals) < EWMA_H
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, t0 + datetime.timedelta(hours=i), 1, "a", v, "{}")
            for i, v in enumerate(vals)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(f"{sf}/events.parquet")

    got = [r.ewma for r in q_ewma(spark, sf).orderBy("hour").collect()]
    want = pd.Series(vals).ewm(alpha=EWMA_ALPHA, adjust=True).mean()
    for g, w in zip(got, want):
        assert abs(g - w) < 1e-6, (g, w)


def test_scd2_runs_versions_and_sentinel(spark, tmp_path):
    """Crafted stream a,a,b,a for one user: three SCD2 versions
    (a, b, a) with touching validity intervals, versions 1..3, the last
    open-ended with the sentinel and is_current=True; a second user's
    single event yields one current row."""
    import datetime

    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_scd2_history,
    )

    t0 = datetime.datetime(2024, 3, 1)

    def ev(eid, user, minutes, typ):
        return (eid, t0 + datetime.timedelta(minutes=minutes), user,
                typ, 0.0, "{}")

    rows = [ev(1, 1, 0, "a"), ev(2, 1, 10, "a"), ev(3, 1, 20, "b"),
            ev(4, 1, 30, "a"), ev(5, 2, 5, "x")]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(f"{sf}/events.parquet")

    out = sorted(q_scd2_history(spark, sf).collect(),
                 key=lambda r: (r.user_id, r.version))
    u1 = [r for r in out if r.user_id == 1]
    assert [(r.event_type, r.version, r.is_current) for r in u1] == \
        [("a", 1, False), ("b", 2, False), ("a", 3, True)]
    assert u1[0].valid_to == u1[1].valid_from
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to.year == 2200
    u2 = [r for r in out if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current and u2[0].version == 1


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """A short doc fully contained in a long one must surface with
    overlap 1.0 even though its Jaccard is far below the dedup
    threshold; an unrelated doc pair must not appear."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        SHINGLE_N, WINNOW_W, q_containment,
    )

    run = " ".join(f"core{i}" for i in range(WINNOW_W + SHINGLE_N + 10))
    big = run + " " + " ".join(f"extra{i}" for i in range(60))
    docs = [
        (1, big, "en", "s", 0),
        (2, run, "en", "s", 0),                     # contained in 1
        (3, " ".join(f"other{i}" for i in range(40)), "en", "s", 0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.parquet(f"{sf}/documents.parquet")
    out = {(r.doc_a, r.doc_b): (r.overlap, r.jaccard)
           for r in q_containment(spark, sf).collect()}
    assert set(out) == {(1, 2)}
    ov, jac = out[(1, 2)]
    assert ov == 1.0
    assert jac < 0.5


def test_weighted_sample_huge_weight_always_selected(spark, tmp_path):
    """Efraimidis-Spirakis property: as w -> inf, u^(1/w) -> 1, so a
    doc with an astronomically larger weight must always be in the
    sample regardless of its hash draw; ranks are dense per
    language."""
    docs = [(i, "x " * 20, "en", "s", 50 + i) for i in range(40)]
    docs.append((99, "y " * 20, "en", "s", 10**9))  # whale weight
    docs.append((100, "", "en", "s", 0))  # zero weight: excluded, no 1/0
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.parquet(f"{sf}/documents.parquet")
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_weighted_sample,
    )
    out = q_weighted_sample(spark, sf).collect()
    ids = {r.doc_id for r in out}
    assert 99 in ids
    assert 100 not in ids  # weight 0 = selection probability 0
    assert sorted(r.rank for r in out) == list(range(1, len(out) + 1))


def test_char_entropy_extremes(spark, tmp_path):
    """Zero entropy for a single repeated character; exactly 1 bit for
    a two-character 50/50 doc; uniform-alphabet doc = log2(k) bits."""
    docs = [
        (1, "aaaaaaaa", "en", "s", 8),
        (2, "abababab", "en", "s", 8),
        (3, "abcdefgh", "en", "s", 8),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long").write.parquet(f"{sf}/documents.parquet")
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_char_entropy,
    )
    out = {r.doc_id: r.entropy_bits
           for r in q_char_entropy(spark, sf).collect()}
    assert out[1] == 0.0
    assert abs(out[2] - 1.0) < 1e-6
    assert abs(out[3] - 3.0) < 1e-6


def test_bpe_learn_greedy_application(spark):
    """Pins the greedy merge semantics on the two cases a naive
    string-replace implementation gets wrong: a self-pair run
    ("aaaa" + merge (a,a) must become [aa, aa] — left-to-right
    alternation, not [aa, a, a]) and back-to-back occurrences
    ("abab" + merge (a,b) must become [ab, ab] — boundary consumption
    loses the second). The crafted corpus makes each round's winner
    depend on the previous round's application being exactly greedy:
    step 3 can only be (aa, aa) if round 1 merged "aaaa" into two
    "aa" tokens AND round 2 merged "abab" into two "ab" tokens."""
    import tempfile

    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_bpe_learn)

    rows = [(1, "abab aaaa cd", "en", "s", 12)]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = tempfile.mkdtemp(prefix="bpe_")
    df.write.parquet(f"{d}/documents.parquet")
    out = sorted((r.step, r.x, r.y, r.merged, r.cnt)
                 for r in q_bpe_learn(spark, d).collect())
    assert out == [
        (1, "a", "a", "aa", 3),     # aaaa: 3 overlapping (a,a) pairs
        (2, "a", "b", "ab", 2),     # abab, after aaaa -> [aa, aa]
        (3, "aa", "aa", "aaaa", 1), # only exists if both applied greedily
    ], out

    # apply: abab -> [ab, ab], aaaa -> [aaaa], cd (never merged) -> [c, d]
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_bpe_apply)
    st = q_bpe_apply(spark, d).collect()
    assert len(st) == 1 and st[0].lang == "en"
    assert (st[0].n_words, st[0].n_tokens, st[0].n_chars) == (3, 5, 10), st
    assert abs(st[0].chars_per_token - 2.0) < 1e-9
