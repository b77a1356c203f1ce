"""The flagship pipeline: Top-K bigram collocations by log-likelihood
ratio per (lang, decade) — the full dataflow of the reference
(SURVEY.md §2.9), re-expressed Spark-first.

Reference mapping (all file:line cites are into /root/reference):

  stage                      reference                       here
  -------------------------  ------------------------------  -----------------------------
  token cleaning             NGramUtils.java:29-39           clean_token_sql (Spark dialect),
                                                             once per stream (clean_sql)
  occ>0 / empty-token drops  Job1.java:138,142,181,186       per-doc filter / NULL token
  stopword drop              Job1.java:144,189               NULL token (stopword_sql), no join
  decade bucketing           NGramUtils.java:8               functions.text.decade_sql
  c1 agg (A2)                Job1.java:279-281               GROUP BY sum (c1_sql)
  c12 agg (A3, *intended*)   Job1.java:282-292 (quirky)      exact GROUP BY sum (c12_sql);
                                                             c12_layout on small inputs
  N agg (A4)                 Job1.java:265-267,306-311       exact Σ c1 (n_sql)
  join on w1 (J1)            Job1.java:62-94,237-314 (~120   one JOIN — Catalyst picks
                             LoC hand-rolled merge join)     SMJ/SHJ, AQE may rewrite
  join on w2 (J2)            Job2.java:51-84,192-251         one JOIN
  broadcast N (J3)           Job2.java:168-190 (dist cache)  BROADCAST hint hash join
  LLR (C1)                   LLR.java:16-47                  functions.llr.llr_sql
  NaN/guard drop (P7)        Job2.java:227,235-241           integer guard predicates
  Top-100 / group (T1-T3)    Job3.java:56-110 (heap+comb.)   row_number window ≤ K
                                                             (WindowGroupLimitExec gives
                                                             the partial top-k push-down
                                                             the reference hand-wrote)

Deliberate divergences from reference quirks (SURVEY.md §4): exact c12
across map tasks, exact N at any parallelism, deterministic Top-K
tiebreak (llr desc, w1, w2).

One definition: every flagship plan (``q_scored``, ``q_topk``,
``q_topk_quirk``, ``q_hebrew_topk``, the three count queries) and the
SQL surface (``sql_api.sql_flagship``) is ``flagship_sql``, one text
assembled from the fragments below; the record-level shims run the
same fragments over frames. The q_* builders bind ``{docs}`` to
``fan_out(load_table(...))`` through ``spark.sql``; ``sql_flagship``
reads the ``documents`` view with the fan-out as a hint.

Scale notes (100 TB): the raw record streams never materialize: each
document's token array is cleaned once per stream (twice per token,
down from about six), and the unigram and bigram streams are
generators over it, so no Filter re-cleans and no join drops
stopwords. c1 and c12 partial-aggregate map-side before their
shuffles (the reference's combiner). On an input under parallelism
× AQE's minimum partition size, c12 instead runs on the Job1 layout
(``c12_layout``): no combine, but on every core, not in one task.
The joins meet the unigram counts on (lang, decade, word) —
high cardinality, well distributed. N (≈ langs × decades rows) is
broadcast. The unigram-count subtree feeds three consumers (c1, c2,
N); AQE reads its shuffle once (c2 and N run as ReusedExchange).

Plan memo: a cold ``q_topk`` build (its two ``spark.sql`` calls)
takes about 0.42 s of driver time at sf0.01 on local[4] (the Column
trees it replaced took 0.62 s), for a plan that depends only on
(sf_dir, k) and the documents input's state. The whole-pipeline
builders (``q_scored``, ``q_topk``, ``q_topk_quirk``,
``q_hebrew_topk``) therefore serve their constructed
DataFrame from ``_COLLOC_MEMO`` (a ``plans.cache.StateCache``): a warm
call costs one stat, one ``applicationId`` read and the session-conf
re-pin. A new session, a restarted context or an in-place rewrite of
``documents.parquet`` rebuilds. ``q_topk`` builds on the memoized
``q_scored``, so the ``operators.ngrams`` composers reuse it too.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..constants import LLR_ROUND, TOP_K, stopword_sql
from ..functions.exact import ieee_round_sql
from ..functions.llr import llr_sql
from ..functions.text import clean_token_sql, decade_sql
from ..plans.cache import StateCache, corpus_state
from ..sources.ngram_source import (HEBREW_TEXT_SQL, HEBREW_WHERE_SQL,
                                    doc_tokens_sql, pairs_sql)
from ..sources.tables import _ensure_session_confs, fan_out, load_table


# --- the flagship as SQL fragments ---------------------------------------
#
# Each fragment is a SELECT over the relations it is given: the earlier
# stages of ``flagship_sql``, or ``{name}`` fields that
# ``spark.sql(text, name=frame)`` binds to a frame. Both pass the text
# through str.format, so the only literal braces, the clean regex's
# \p{L} and \p{N}, are doubled here.

_CLEAN = clean_token_sql("t", "spark").replace("{", "{{").replace("}", "}}")


def clean_sql(src: str, tokens: str, carry: str = "") -> str:
    """(carry, lang, decade, occ, cw) of the records ``src`` (lang,
    year, occurrences, ...) with occurrences > 0 (reference
    Job1.java:138,181): ``cw`` is the ``tokens`` array cleaned in one
    pass, the empty tokens and the stopwords of the row's lang NULL. A
    NULL keeps its position, so it still breaks the pairs on both sides
    of it. The streams read ``cw`` through a generator, which Catalyst
    cannot push a filter through, so no Filter repeats the cleaning."""
    return f"""SELECT {carry}lang, {decade_sql('year')} AS decade,
               CAST(occurrences AS BIGINT) AS occ,
               transform(transform({tokens}, t -> {_CLEAN}), w ->
                         IF(w = '' OR {stopword_sql('w')}, NULL, w)) AS cw
        FROM {src} WHERE occurrences > 0"""


def unigrams_sql(src: str) -> str:
    """(lang, decade, word, occ): the kept words of ``clean_sql`` rows.
    The outer predicate tells Catalyst what the generator ensures, so
    the copies feeding the joins (which infer it) and N plan alike and
    share one exchange."""
    return f"""SELECT lang, decade, word, occ FROM {src}
        LATERAL VIEW explode(filter(cw, w -> w IS NOT NULL)) x AS word
        WHERE word IS NOT NULL"""


def bigrams_sql(src: str, carry: str = "") -> str:
    """(carry, lang, decade, w1, w2, occ): the adjacent kept pairs of
    ``clean_sql`` rows (reference Job1.java:181-189: a bigram is dropped
    when either side is)."""
    return f"""SELECT {carry}lang, decade, p.w1, p.w2, occ FROM {src}
        LATERAL VIEW explode(filter({pairs_sql('cw', 'w1', 'w2')},
                                    p -> p.w1 IS NOT NULL
                                         AND p.w2 IS NOT NULL)) x AS p"""


# A2/A3/A4, exact at any parallelism. The partial aggregate below each
# shuffle is the reference's hand-written combiner (Job1.java:197-209).

def c1_sql(src: str) -> str:
    return f"""SELECT lang, decade, word, sum(occ) AS c1 FROM {src}
        GROUP BY lang, decade, word"""


def c12_sql(src: str, layout: str = "") -> str:
    """c12 per (lang, decade, w1, w2), the *intended* semantics of the
    reference's quirky partial sum (SURVEY.md §4 quirk 1), over the
    ``c12_layout`` hint when one is given."""
    return f"""SELECT lang, decade, w1, w2, sum(occ) AS c12
        FROM (SELECT {layout} * FROM {src}) GROUP BY lang, decade, w1, w2"""


def n_sql(src: str) -> str:
    """N per (lang, decade) as Σ c1 over the c1 rows ``src``, exact at
    any parallelism (fixes reference quirk 2, Job2.java:185)."""
    return f"""SELECT lang, decade, sum(c1) AS n_total FROM {src}
        GROUP BY lang, decade"""


# The deterministic quirk surface (driver-adjudicable bit-parity). It
# emulates the reference's two bug CLASSES with content-derived
# surrogates both engines compute identically: a map task = a doc_id
# stripe (doc_id % M, an INTERLEAVED assignment, not the reference's
# contiguous byte-range splits; what matters for the bug class is only
# that one bigram's occurrences span several never-re-summed groups),
# a reducer id = an md5 bucket of the reduce key (standing in for
# Hadoop's HashPartitioner).

QUIRK_REDUCERS = 4   # stands in for Job1's reducer count
QUIRK_MAPTASKS = 4   # input-split count surrogate for quirk 1

_QUIRK_RID_SQL = (f"CAST(conv(substring(md5(concat(lang, '|', "
                  f"CAST(decade AS STRING), '|', word)), 1, 4), 16, 10) "
                  f"AS BIGINT) % {QUIRK_REDUCERS}")


def c12_quirk_sql(src: str, layout: str = "") -> str:
    """Quirk 1 (Job1.java:282-292): the reference reducer emits one c12
    record per map-task partial and never re-sums across map tasks, so
    a bigram whose occurrences span map tasks yields several fragments,
    each scored on its own. ``src`` carries doc_id."""
    return f"""SELECT lang, decade, w1, w2, sum(occ) AS c12
        FROM (SELECT {layout} * FROM {src})
        GROUP BY lang, decade, w1, w2, doc_id % {QUIRK_MAPTASKS}"""


def n_quirk_sql(src: str) -> str:
    """Quirk 2 (Job2.java:185): each Job1 reducer emits its own partial
    N, and Job2 loads them with ``NMap.put`` (overwrite, not sum), so
    the last cache file read wins: Σ c1 per md5 bucket of the reduce
    key, the highest bucket id present per (lang, decade)."""
    return f"""SELECT lang, decade, n_partial AS n_total FROM (
            SELECT lang, decade, n_partial, row_number() OVER (
                PARTITION BY lang, decade ORDER BY rid DESC) AS rn
            FROM (SELECT lang, decade, rid, sum(c1) AS n_partial
                  FROM (SELECT lang, decade, c1, {_QUIRK_RID_SQL} AS rid
                        FROM {src})
                  GROUP BY lang, decade, rid))
        WHERE rn = 1"""


def scored_sql(c12: str, c1: str, n: str) -> str:
    """J1/J2/J3 + C1 + P7: attach c1 (join on w1), c2 (join on w2) and
    N (broadcast), drop the guard violations, score.

    Output: (lang, decade, w1, w2, c1, c2, c12, n_total, llr) with llr
    rounded to LLR_ROUND decimals by the IEEE floor form
    (``functions.exact.ieee_round_sql``), which the oracle emits too:
    round(DOUBLE) takes Spark's per-row BigDecimal HALF_UP path (~3.7x
    the floor form per row, the hottest expression at corpus scale),
    while the floor form stays inside whole-stage codegen. The filter is
    on the integer guard predicates, NOT on llr IS NOT NULL: llr is NULL
    exactly when they fail, but a null check on llr would be pushed into
    the join condition with the whole LLR expression inlined. The inner
    alias keeps the LLR single-eval under ieee_round's three
    references."""
    return f"""SELECT lang, decade, w1, w2, c1, c2, c12, n_total,
               {ieee_round_sql('llr0', LLR_ROUND)} AS llr
        FROM (SELECT /*+ BROADCAST(t) */ lang, decade, w1, w2,
                     c1, c2, c12, n_total,
                     {llr_sql('c1', 'c2', 'c12', 'n_total')} AS llr0
              FROM {c12}
              JOIN (SELECT lang, decade, word AS w1, c1 FROM {c1})
                USING (lang, decade, w1)
              JOIN (SELECT lang, decade, word AS w2, c1 AS c2 FROM {c1})
                USING (lang, decade, w2)
              JOIN {n} t USING (lang, decade)
              WHERE c12 > 0 AND c1 > 0 AND c2 > 0 AND n_total > 0
                AND c1 - c12 >= 0 AND c2 - c12 >= 0
                AND n_total - c1 - c2 + c12 >= 0)"""


def top_sql(src: str, k: int = TOP_K) -> str:
    """(lang, decade, bigram, llr, rank): Top-K per (lang, decade) by
    llr desc, deterministic tiebreak (w1, w2). Spark ≥3.5 compiles the
    row_number ≤ k filter into WindowGroupLimitExec, a partial top-k
    before the shuffle: the reference's Top-K combiner
    (Job3.java:83-93)."""
    return f"""SELECT lang, decade, concat_ws(' ', w1, w2) AS bigram, llr, rank
        FROM (SELECT lang, decade, w1, w2, llr, CAST(row_number() OVER (
                  PARTITION BY lang, decade
                  ORDER BY llr DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
              FROM {src})
        WHERE rank <= {k}"""


def flagship_sql(stage: str, *, text: str = "text", lang: str = "lang",
                 where: str = "TRUE", layout: str = "", quirk: bool = False,
                 k: int = TOP_K) -> str:
    """The flagship over the documents ``{docs}`` up to ``stage``: one
    of recs, cleaned, uni, big, c1, c12, n, scored, top. ``text``/
    ``lang``/``where`` derive the documents (the Hebrew corpus),
    ``layout`` is c12's hint (``c12_layout``) and ``quirk`` swaps in
    the quirk c12 and N. N = Σ c1 rolls up from the counts instead of
    re-scanning the unigram stream.

    Each stage is written into the next as a derived table, not a CTE.
    Two frames that each carried a WITH clause, bound into one text,
    had one's CTE resolved to the other's: the record-level shims fed
    N from the bigram stream."""
    c12, n = (c12_quirk_sql, n_quirk_sql) if quirk else (c12_sql, n_sql)
    r = {"recs": doc_tokens_sql("{docs}", text, lang, where)}
    r["cleaned"] = clean_sql(f"({r['recs']})", "ts", "doc_id, ")
    r["uni"] = unigrams_sql(f"({r['cleaned']})")
    r["big"] = bigrams_sql(f"({r['cleaned']})", "doc_id, " if quirk else "")
    r["c1"] = c1_sql(f"({r['uni']})")
    r["c12"] = c12(f"({r['big']})", layout)
    r["n"] = n(f"({r['c1']})")
    r["scored"] = scored_sql(f"({r['c12']})", f"({r['c1']})", f"({r['n']})")
    r["top"] = top_sql(f"({r['scored']})", k)
    return r[stage]


def c12_layout(spark: SparkSession, sf_dir: str,
               keys: str = "lang, decade, w1") -> str:
    """The hint that hash-partitions c12's input on ``keys`` at the
    cluster's parallelism (reference Job1's key order, SURVEY.md §1.1)
    when the documents input is under parallelism × AQE's minimum
    partition size; otherwise none. The repartition replaces the
    aggregate's exchange, so c12 loses its map-side combine, and AQE
    never coalesces it, so c12, the join probes, LLR and the partial
    Top-K run on every core. That pays only while AQE would coalesce
    c12's own exchange below one task per core: c12's shuffle measured
    2.8x (Zipf corpus) to 6.3x (sf0.1) the input's bytes, so an input
    at the bound keeps the combine and gets every core anyway, and
    below it the combine cut under 1% of c12's bytes."""
    width = spark.sparkContext.defaultParallelism
    state = corpus_state(sf_dir, spark)
    min_part = spark.sparkContext._jvm.org.apache.spark.network.util \
        .JavaUtils.byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    if state is None or state[1] >= width * min_part:
        return ""
    return f"/*+ REPARTITION({width}, {keys}) */"


# --- record-level shims (DataFrame -> DataFrame) --------------------------
#
# The fragments above over frames, for tests and the benchmark's layer
# probe. Records are the reference's input shape, one row per record,
# each cleaned as a one- or two-token document. ``stop`` is IGNORED (the
# stopwords are ``constants.stopword_sql``); it stays only for the
# benchmark probe's call.

def _sql(text: str, **frames: DataFrame) -> DataFrame:
    """``text`` over ``frames``. An action on the frame ``spark.sql``
    returns reports observed metrics from its parsed plan, where a bound
    frame is only a view name, so an ``observe``d input would never
    report; the no-op select re-roots it on the analyzed plan."""
    spark = next(iter(frames.values())).sparkSession
    return spark.sql(text, **frames).select("*")


def clean_unigrams(uni_raw: DataFrame, stop: DataFrame) -> DataFrame:
    """(lang, token, year, occurrences) -> (lang, decade, word, occ)."""
    return _sql(unigrams_sql(f"({clean_sql('{raw}', 'array(token)')})"),
                raw=uni_raw)


def clean_bigrams(big_raw: DataFrame, stop: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(lang, token1, token2, year, occurrences) -> (*carry, lang,
    decade, w1, w2, occ); ``carry`` passes input columns through (the
    quirk surface's doc_id)."""
    cols = "".join(f"{c}, " for c in carry)
    cleaned = clean_sql("{raw}", "array(token1, token2)", cols)
    return _sql(bigrams_sql(f"({cleaned})", cols), raw=big_raw)


def unigram_counts(uni: DataFrame) -> DataFrame:
    return _sql(c1_sql("{uni}"), uni=uni)


def bigram_counts(big: DataFrame) -> DataFrame:
    return _sql(c12_sql("{big}"), big=big)


def totals(uni: DataFrame) -> DataFrame:
    return _sql(n_sql(f"({c1_sql('{uni}')})"), uni=uni)


def score_collocations(c12_df: DataFrame, c1_df: DataFrame,
                       totals_df: DataFrame) -> DataFrame:
    return _sql(scored_sql("{c12}", "{c1}", "{n}"),
                c12=c12_df, c1=c1_df, n=totals_df)


def top_collocations(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    return _sql(top_sql("{scored}", k), scored=scored)


# --- whole-pipeline wrappers (spark, sf_dir) -> DataFrame ----------------

def _flagship(spark: SparkSession, sf_dir: str, stage: str,
              **params) -> DataFrame:
    return spark.sql(flagship_sql(stage, **params),
                     docs=fan_out(load_table(spark, sf_dir, "documents")))


def q_unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship(spark, sf_dir, "c1")


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship(spark, sf_dir, "c12")


def q_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship(spark, sf_dir, "n")


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


def q_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(("scored", sf_dir, None), spark, sf_dir,
                     lambda: _flagship(spark, sf_dir, "scored",
                                       layout=c12_layout(spark, sf_dir)))


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
    return _memoized(("topk_quirk", sf_dir, k), spark, sf_dir,
                     lambda: _flagship(spark, sf_dir, "top",
                                       layout=c12_layout(spark, sf_dir),
                                       quirk=True, k=k))


def q_hebrew_topk(spark: SparkSession, sf_dir: str,
                  k: int = TOP_K) -> DataFrame:
    """The full flagship pipeline over the derived Hebrew corpus
    (lang='he', RTL script) with the Hebrew stopword list — the
    reference's second-corpus surface (its heb stopword block in
    ``Stopwords.java``; EMR run in ``Analysis.md``). Exercises clean →
    stopword drop → counts → joins → LLR → Top-K end to end on
    non-Latin text; same operators, different codepoint plane. lang is
    the constant 'he' here, which Catalyst folds out of the
    partitioning but not out of the aggregate's key, so a lang-keyed
    layout would not satisfy the aggregate."""
    return _memoized(("hebrew_topk", sf_dir, k), spark, sf_dir,
                     lambda: _flagship(
                         spark, sf_dir, "top",
                         text=HEBREW_TEXT_SQL, lang="'he'",
                         where=HEBREW_WHERE_SQL, k=k,
                         layout=c12_layout(spark, sf_dir, "decade, w1")))
