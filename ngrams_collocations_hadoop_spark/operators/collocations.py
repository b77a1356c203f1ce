"""The flagship pipeline: Top-K bigram collocations by log-likelihood
ratio per (lang, decade) — the full dataflow of the reference
(SURVEY.md §2.9), re-expressed Spark-first.

Reference mapping (all file:line cites are into /root/reference):

  stage                      reference                       here
  -------------------------  ------------------------------  -----------------------------
  token cleaning             NGramUtils.java:29-39           functions.text.clean_token, once
                                                             per stream (ngram_source.cleaned)
  occ>0 / empty-token drops  Job1.java:138,142,181,186       per-doc filter / NULL token
  stopword drop              Job1.java:144,189               NULL token (stopword_sql), no join
  decade bucketing           NGramUtils.java:8               functions.text.decade
  c1 agg (A2)                Job1.java:279-281               groupBy().sum()
  c12 agg (A3, *intended*)   Job1.java:282-292 (quirky)      exact groupBy().sum(); job1_layout
                                                             on small inputs
  N agg (A4)                 Job1.java:265-267,306-311       exact groupBy().sum()
  join on w1 (J1)            Job1.java:62-94,237-314 (~120   one .join() — Catalyst picks
                             LoC hand-rolled merge join)     SMJ/SHJ, AQE may rewrite
  join on w2 (J2)            Job2.java:51-84,192-251         one .join()
  broadcast N (J3)           Job2.java:168-190 (dist cache)  F.broadcast() hash join
  LLR (C1)                   LLR.java:16-47                  functions.llr.llr_sql
  NaN/guard drop (P7)        Job2.java:227,235-241           llr IS NOT NULL filter
  Top-100 / group (T1-T3)    Job3.java:56-110 (heap+comb.)   row_number window ≤ K
                                                             (WindowGroupLimitExec gives
                                                             the partial top-k push-down
                                                             the reference hand-wrote)

Deliberate divergences from reference quirks (SURVEY.md §4): exact c12
across map tasks, exact N at any parallelism, deterministic Top-K
tiebreak (llr desc, w1, w2).

Scale notes (100 TB): the raw record streams never materialize: each
document's token array is cleaned once per stream (twice per token,
down from about six), and the unigram and bigram streams are
generators over it, so no Filter re-cleans and no join drops
stopwords. c1 and c12 partial-aggregate map-side before their
shuffles (the reference's combiner). On an input under parallelism
× AQE's minimum partition size, c12 instead runs on the Job1 layout
(``job1_layout``): no combine, but on every core, not in one task.
The joins meet the unigram counts on (lang, decade, word) —
high cardinality, well distributed. N (≈ langs × decades rows) is
broadcast. The unigram-count subtree feeds three consumers (c1, c2,
N); AQE reads its shuffle once (c2 and N run as ReusedExchange).

Plan memo: building the flagship's Column trees is ~1,900 py4j
round-trips (~0.7 s of driver time on a 4-core host) per call, for a
plan that depends only on (sf_dir, k) and the documents input's
state. The whole-pipeline builders (``q_scored``, ``q_topk``,
``q_topk_quirk``, ``q_hebrew_topk``) therefore serve their constructed
DataFrame from ``_COLLOC_MEMO`` (a ``plans.cache.StateCache``): a warm
call costs one stat, one ``applicationId`` read and the session-conf
re-pin. A new session, a restarted context or an in-place rewrite of
``documents.parquet`` rebuilds. ``q_topk`` builds on the memoized
``q_scored``, so the ``operators.ngrams`` composers reuse it too.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..constants import LLR_ROUND, TOP_K
from ..functions.exact import ieee_round
from ..functions.llr import llr_sql
from ..plans.cache import StateCache, corpus_state
from ..sources.ngram_source import (HEBREW_TEXT_SQL, HEBREW_WHERE_SQL,
                                    bigram_stream, cleaned, cleaned_docs,
                                    unigram_stream)
from ..sources.tables import _ensure_session_confs


# --- record-level transforms (DataFrame -> DataFrame) -------------------

# One row per record (the reference's input shape), for tests and the
# benchmark's layer probe: each record is ``cleaned`` as a one- or
# two-token document, stopwords from ``constants.stopword_sql``.
# ``stop`` is IGNORED; it stays only for the benchmark probe's call.

def clean_unigrams(uni_raw: DataFrame, stop: DataFrame) -> DataFrame:
    """(lang, token, year, occurrences) -> (lang, decade, word, occ):
    occ > 0, cleaned, no empty token or stopword of the record's lang."""
    return unigram_stream(cleaned(uni_raw, F.array("token")))


def clean_bigrams(big_raw: DataFrame, stop: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(lang, token1, token2, year, occurrences) -> (lang, decade, w1, w2,
    occ); dropped when EITHER side is (reference Job1.java:189).
    ``carry`` passes input columns through (the quirk surface's doc_id)."""
    return bigram_stream(cleaned(big_raw, F.array("token1", "token2"),
                                 carry), carry)


# --- aggregations (A2/A3/A4 — exact at any parallelism) -----------------

def unigram_counts(uni: DataFrame) -> DataFrame:
    """c1 per (lang, decade, word). Partial agg before shuffle is
    automatic (HashAggregateExec partial→final), matching the
    reference's hand-written combiner (Job1.java:197-209)."""
    return (uni.groupBy("lang", "decade", "word")
            .agg(F.sum("occ").alias("c1")))


def job1_layout(big: DataFrame, sf_dir: str,
                keys: tuple[str, ...] = ("lang", "decade", "w1")
                ) -> DataFrame:
    """``big`` hash-partitioned on (lang, decade, w1) at the cluster's
    parallelism (reference Job1's key order, SURVEY.md §1.1) when the
    documents input is under parallelism × AQE's minimum partition
    size; otherwise unchanged. Under c12 the repartition replaces the
    aggregate's exchange, so c12 loses its map-side combine, and AQE
    never coalesces it, so c12, the join probes, LLR and the partial
    Top-K run on every core. That pays only while AQE would coalesce
    c12's own exchange below one task per core: c12's shuffle measured
    2.8x (Zipf corpus) to 6.3x (sf0.1) the input's bytes, so an input
    at the bound keeps the combine and gets every core anyway, and
    below it the combine cut under 1% of c12's bytes."""
    spark = big.sparkSession
    width = spark.sparkContext.defaultParallelism
    state = corpus_state(sf_dir, spark)
    min_part = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    if state is None or state[1] >= width * min_part:
        return big
    return big.repartition(width, *keys)


def bigram_counts(big: DataFrame) -> DataFrame:
    """c12 per (lang, decade, w1, w2) — the *intended* semantics of the
    reference's quirky partial-sum (SURVEY.md §4 quirk 1)."""
    return (big.groupBy("lang", "decade", "w1", "w2")
            .agg(F.sum("occ").alias("c12")))


def totals(uni: DataFrame) -> DataFrame:
    """N per (lang, decade) over stopword-filtered unigrams — exact at
    any parallelism (fixes reference quirk 2, Job2.java:185)."""
    return (uni.groupBy("lang", "decade")
            .agg(F.sum("occ").alias("n_total")))


# --- deterministic quirk surface (driver-adjudicable bit-parity) ---------
#
# These emulate the reference's two bug CLASSES with content-derived
# surrogates both engines can compute identically, so the
# cross-engine hash check can adjudicate them: a map task = a
# deterministic doc_id stripe (doc_id % M — an INTERLEAVED assignment,
# not the reference's contiguous byte-range splits; what matters for
# the bug class is only that one bigram's occurrences span several
# never-re-summed groups), a reducer id = an md5 bucket of the reduce
# key (standing in for Hadoop's HashPartitioner).

QUIRK_REDUCERS = 4   # stands in for Job1's reducer count
QUIRK_MAPTASKS = 4   # input-split count surrogate for quirk 1

_QUIRK_RID_SQL = (f"CAST(conv(substring(md5(concat(lang, '|', "
                  f"CAST(decade AS STRING), '|', word)), 1, 4), 16, 10) "
                  f"AS BIGINT) % {QUIRK_REDUCERS}")


def bigram_counts_quirk_det(big_with_doc: DataFrame) -> DataFrame:
    """Quirk 1 (Job1.java:282-292): the reference reducer emits one c12
    record per map-task partial and never re-sums across map tasks, so
    a bigram whose occurrences span map tasks yields several fragments,
    each scored on its own. Map task = doc_id stripe, so the fragments
    are reproducible in SQL."""
    return (big_with_doc
            .withColumn("_maptask", F.col("doc_id") % QUIRK_MAPTASKS)
            .groupBy("lang", "decade", "w1", "w2", "_maptask")
            .agg(F.sum("occ").alias("c12"))
            .drop("_maptask"))


def totals_quirk_det(c1_df: DataFrame) -> DataFrame:
    """Quirk 2 (Job2.java:185): each Job1 reducer emits its own partial
    N, and Job2 loads them with ``NMap.put`` (overwrite, not sum), so
    the last cache file read wins. Bucket words by an md5 hash of the
    reduce key, sum c1 per bucket, keep the highest bucket id present
    per (lang, decade) — reproducible in both engines."""
    partials = (c1_df.withColumn("_rid", F.expr(_QUIRK_RID_SQL))
                .groupBy("lang", "decade", "_rid")
                .agg(F.sum("c1").alias("n_partial")))
    w = Window.partitionBy("lang", "decade").orderBy(F.desc("_rid"))
    return (partials.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("lang", "decade",
                    F.col("n_partial").alias("n_total")))


# --- joins + scoring (J1/J2/J3 + C1 + P7) -------------------------------

def score_collocations(c12_df: DataFrame, c1_df: DataFrame,
                       totals_df: DataFrame) -> DataFrame:
    """Attach c1 (join on w1), c2 (join on w2), N (broadcast), compute
    LLR, drop guard violations.

    Output: (lang, decade, w1, w2, c1, c2, c12, n_total, llr) with llr
    rounded to LLR_ROUND decimals (cross-engine float comparability).
    Rounding uses ``ieee_round`` (floor(x*1e6 + 0.5)/1e6), not
    ``F.round``: round(DOUBLE) takes Spark's per-row BigDecimal HALF_UP
    path (~3.7x the floor form per row — the single hottest expression
    at corpus scale), while the floor form is pure IEEE arithmetic
    inside whole-stage codegen and bit-identical in both engines
    (oracle.py emits the same text; llr is ln-irrational so a
    half-boundary value has ~2^-52 probability either way).
    """
    u1 = c1_df.select("lang", "decade",
                      F.col("word").alias("w1"), "c1")
    u2 = c1_df.select("lang", "decade",
                      F.col("word").alias("w2"),
                      F.col("c1").alias("c2"))
    c1c, c2c, c12c, nc = (F.col("c1"), F.col("c2"), F.col("c12"),
                          F.col("n_total"))
    # Filter on the integer guard predicates, NOT on llr IS NOT NULL:
    # llr is NULL exactly when these fail, but a null-check on the llr
    # column would be pushed into the join condition with the whole LLR
    # expression inlined — evaluating it twice and bloating codegen past
    # JIT limits. The guards are cheap int comparisons.
    valid = (
        (c12c > 0) & (c1c > 0) & (c2c > 0) & (nc > 0)
        & (c1c - c12c >= 0) & (c2c - c12c >= 0)
        & (nc - c1c - c2c + c12c >= 0)
    )
    scored = (
        c12_df
        .join(u1, on=["lang", "decade", "w1"], how="inner")
        .join(u2, on=["lang", "decade", "w2"], how="inner")
        .join(F.broadcast(totals_df), on=["lang", "decade"], how="inner")
        .filter(valid)
        # Two-step projection: _llr_raw is referenced 3x by ieee_round's
        # guard; the raw alias keeps LLR single-eval (CollapseProject
        # refuses to inline a non-cheap alias referenced >1x, and codegen
        # subexpression elimination covers it regardless). One parse of
        # the SQL text replaces the ~200 py4j round-trips of building
        # the same expression as a Column tree.
        .withColumn("_llr_raw", F.expr(llr_sql("c1", "c2", "c12",
                                               "n_total")))
        .withColumn("llr", ieee_round(F.col("_llr_raw"), LLR_ROUND))
    )
    return scored.select("lang", "decade", "w1", "w2",
                         "c1", "c2", "c12", "n_total", "llr")


def top_collocations(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Top-K per (lang, decade) by llr desc, deterministic tiebreak
    (w1, w2). Spark ≥3.5 compiles the row_number-≤-k filter into
    WindowGroupLimitExec — a partial top-k before the shuffle, exactly
    the reference's Top-K combiner (Job3.java:83-93) for free.

    Output: (lang, decade, bigram, llr, rank).
    """
    w = (Window.partitionBy("lang", "decade")
         .orderBy(F.desc("llr"), F.asc("w1"), F.asc("w2")))
    return (
        scored
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("lang", "decade",
                F.concat_ws(" ", "w1", "w2").alias("bigram"),
                "llr", "rank")
    )


# --- whole-pipeline wrappers (spark, sf_dir) -> DataFrame ----------------

def q_unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_counts(unigram_stream(cleaned_docs(spark, sf_dir)))


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_counts(bigram_stream(cleaned_docs(spark, sf_dir)))


def q_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return totals(unigram_stream(cleaned_docs(spark, sf_dir)))


# One memo for the family; keys are (builder, sf_dir, k), k None where
# the builder has no such parameter. At most 8 handles: the registry's
# four flagship plans at two corpora.
_COLLOC_MEMO = StateCache(max_entries=8)


def _memoized(key: tuple, spark: SparkSession, sf_dir: str,
              build: Callable[[], DataFrame]) -> DataFrame:
    """``build()``'s plan, served from ``_COLLOC_MEMO`` while the
    session and the documents input's state are unchanged. The session
    confs are re-applied on every call, hit or miss: a caller-built
    session may have reset the time zone since the plan was built."""
    _ensure_session_confs(spark)
    return _COLLOC_MEMO.plan(key, spark, corpus_state(sf_dir, spark),
                             lambda: (build(), []))[0]


def _scored(docs: DataFrame, sf_dir: str,
            layout: tuple[str, ...] = ("lang", "decade", "w1")) -> DataFrame:
    """``cleaned_docs`` -> scored bigrams. N = Σ c1 — rolls up from the
    counts instead of re-scanning the unigram stream (algebraically
    identical)."""
    c1_df = unigram_counts(unigram_stream(docs))
    totals_df = (c1_df.groupBy("lang", "decade")
                 .agg(F.sum("c1").alias("n_total")))
    c12_df = bigram_counts(job1_layout(bigram_stream(docs), sf_dir,
                                       layout))
    return score_collocations(c12_df, c1_df, totals_df)


def q_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(("scored", sf_dir, None), spark, sf_dir,
                     lambda: _scored(cleaned_docs(spark, sf_dir), sf_dir))


def q_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    return _memoized(("topk", sf_dir, k), spark, sf_dir,
                     lambda: top_collocations(q_scored(spark, sf_dir), k))


def q_topk_quirk(spark: SparkSession, sf_dir: str,
                 k: int = TOP_K) -> DataFrame:
    """The flagship Top-K under DETERMINISTIC quirk emulation — the
    driver-adjudicable form of the reference's two bugs (SURVEY.md §4):
    fragmented per-map-task c12 partials (quirk 1, map task = doc_id
    block) and a single-reducer N (quirk 2, reducer = md5 bucket of
    the reduce key, last file wins). The output projection (lang,
    decade, bigram, llr, rank) collapses fragment identity: fragments
    of one bigram that round to the same llr yield IDENTICAL output
    rows, so rank assignment among them cannot flap the hash."""
    def build() -> DataFrame:
        docs = cleaned_docs(spark, sf_dir)
        c1_df = unigram_counts(unigram_stream(docs))
        big = job1_layout(bigram_stream(docs, carry=("doc_id",)), sf_dir)
        scored = score_collocations(bigram_counts_quirk_det(big), c1_df,
                                    totals_quirk_det(c1_df))
        return top_collocations(scored, k)

    return _memoized(("topk_quirk", sf_dir, k), spark, sf_dir, build)


def q_hebrew_topk(spark: SparkSession, sf_dir: str,
                  k: int = TOP_K) -> DataFrame:
    """The full flagship pipeline over the derived Hebrew corpus
    (lang='he', RTL script) with the Hebrew stopword list — the
    reference's second-corpus surface (its heb stopword block in
    ``Stopwords.java``; EMR run in ``Analysis.md``). Exercises clean →
    stopword drop → counts → joins → LLR → Top-K end to end on
    non-Latin text; same operators, different codepoint plane."""
    def build() -> DataFrame:
        docs = cleaned_docs(spark, sf_dir, HEBREW_TEXT_SQL, "'he'",
                            HEBREW_WHERE_SQL)
        # lang is the constant 'he' here, which Catalyst folds out of
        # the partitioning but not out of the aggregate's key, so a
        # lang-keyed layout would not satisfy the aggregate
        return top_collocations(_scored(docs, sf_dir, ("decade", "w1")), k)

    return _memoized(("hebrew_topk", sf_dir, k), spark, sf_dir, build)
