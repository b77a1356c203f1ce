"""Generalized n-gram operators (SURVEY.md §7.3): the reference
hard-codes n=2 (Job1.java:170-171 splits a bigram into exactly two
tokens); here n is a parameter, and association scoring is pluggable
(LLR / PMI / t-score / χ² from functions.assoc).

Also implements P2 properly for record-shaped input: the real Google
N-Grams 2-gram records carry the pair as ONE whitespace-separated
string field; ``split_bigram_field`` tokenizes it and drops records
that don't split into exactly two tokens (reference Job1.java:170-171,
184-185).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import ieee_round, uavg

from ..constants import LLR_ROUND
from ..functions import assoc
from ..sources.ngram_source import _docs_with_tokens
from . import collocations as co


def split_bigram_field(records: DataFrame,
                       ngram_col: str = "ngram") -> DataFrame:
    """P2: `"w1 w2"` → (token1, token2); rows with ≠2 tokens dropped
    (the reference's `parts.length < 2 → return`)."""
    toks = F.split(F.trim(F.col(ngram_col)), r"\s+")
    return (records.withColumn("_toks", toks)
            .filter(F.size("_toks") == 2)
            .withColumn("token1", F.col("_toks").getItem(0))
            .withColumn("token2", F.col("_toks").getItem(1))
            .drop("_toks", ngram_col))


def ngram_records(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(lang, year, occurrences, grams: array<string>[n]) — sliding
    n-windows over document tokens, entirely inside codegen."""
    window = F.expr(
        f"transform(slice(ts, 1, greatest(size(ts) - {n - 1}, 0)), "
        f"(x, i) -> slice(ts, i + 1, {n}))"
    )
    return (
        _docs_with_tokens(spark, sf_dir)
        .select("lang", "year", "occurrences",
                F.explode(window).alias("grams"))
    )


def q_trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram counts per (lang, decade) — n=3 instance of the
    generalized operator, with cleaning applied per position."""
    from ..functions.text import clean_token, decade

    recs = ngram_records(spark, sf_dir, 3)
    cleaned = recs.select(
        "lang",
        decade(F.col("year")).alias("decade"),
        clean_token(F.col("grams").getItem(0)).alias("w1"),
        clean_token(F.col("grams").getItem(1)).alias("w2"),
        clean_token(F.col("grams").getItem(2)).alias("w3"),
        F.col("occurrences").alias("occ"),
    ).filter((F.col("w1") != "") & (F.col("w2") != "") & (F.col("w3") != ""))
    return (cleaned.groupBy("lang", "decade", "w1", "w2", "w3")
            .agg(F.sum("occ").alias("c")))


def q_assoc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every association measure side by side over the bigram
    contingency counts: llr, pmi, t_score, chi_square."""
    scored = co.q_scored(spark, sf_dir)
    c1c, c2c = F.col("c1"), F.col("c2")
    c12c, nc = F.col("c12"), F.col("n_total")
    return scored.select(
        "lang", "decade", "w1", "w2", "c1", "c2", "c12", "n_total", "llr",
        ieee_round(assoc.pmi(c1c, c2c, c12c, nc), LLR_ROUND).alias("pmi"),
        ieee_round(assoc.t_score(c1c, c2c, c12c, nc), LLR_ROUND).alias("t_score"),
        ieee_round(assoc.chi_square(c1c, c2c, c12c, nc), LLR_ROUND).alias("chi2"),
    )


def q_pmi_topk(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Top-K by PMI — the flagship pipeline with a swapped scoring
    expression (pipeline shape unchanged; only C1 differs)."""
    # scored's guard filter (c1,c2,c12,N > 0) already implies pmi NOT NULL
    scored = q_assoc_scores(spark, sf_dir)
    w = (Window.partitionBy("lang", "decade")
         .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("lang", "decade",
                    F.concat_ws(" ", "w1", "w2").alias("bigram"),
                    "pmi", "rank"))


# Add-k smoothing constant for the conditional-probability LM scorer.
# Written as the literal 0.5 in BOTH engines (a computed value could
# differ in the last ulp between Python and DuckDB decimal arithmetic).
CONDPROB_K = 0.5

# Kneser-Ney absolute discount — the standard 0.75, a literal in both
# engines for the same ulp reason as CONDPROB_K.
KN_D = 0.75

# The interpolated-KN probability, one shared text so both engines run
# the IDENTICAL IEEE expression (operand order and association
# included): discounted ML term + interpolation weight x continuation
# probability. Integer/integer `/` is true division (DOUBLE) in both
# dialects. Literals in E0 scientific form: `0D` is Spark-only syntax
# and a bare `0.75` parses as DECIMAL(3,2) in Spark.
_KN_P_SQL = (f"greatest(c12 - {KN_D}E0, 0E0) / ctx1 "
             f"+ (({KN_D}E0 * n_pre) / ctx1) "
             f"* (CAST(n_post AS DOUBLE) / n_types)")


def q_kn_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM — the smoothing production
    n-gram LMs actually use (add-k overweights unseen mass badly at
    LM scale): P(w2|w1) = max(c12 − D, 0)/ctx1 + D·N1+(w1,·)/ctx1 ·
    N1+(·,w2)/N1+(··), with ctx1 = Σ_w2 c12 (the w1 context total),
    N1+(w1,·)/N1+(·,w2) the distinct continuation/history type counts
    and N1+(··) the bigram type count, all per (lang, decade). The
    continuation distribution is KN's point: a w2 that follows MANY
    different histories gets the unseen mass, not merely a frequent
    one.

    Scale shape: everything derives from the scored contingency table
    (no extra pass over raw ngrams) — the three type-count aggregates
    group a table that is already unique per (lang, decade, w1, w2),
    so each is one partial-agg'd shuffle on a key the joins then
    reuse; the per-(lang,decade) type total is a tiny broadcast."""
    sc = co.q_scored(spark, sf_dir).select(
        "lang", "decade", "w1", "w2", "c12")
    pre = (sc.groupBy("lang", "decade", "w1")
           .agg(F.count(F.lit(1)).alias("n_pre"),
                F.sum("c12").alias("ctx1")))
    post = (sc.groupBy("lang", "decade", "w2")
            .agg(F.count(F.lit(1)).alias("n_post")))
    tot = (sc.groupBy("lang", "decade")
           .agg(F.count(F.lit(1)).alias("n_types")))
    return (sc.join(pre, on=["lang", "decade", "w1"])
            .join(post, on=["lang", "decade", "w2"])
            .join(F.broadcast(tot), on=["lang", "decade"])
            .select("lang", "decade", "w1", "w2", "c12", "ctx1",
                    ieee_round(F.expr(_KN_P_SQL), 6).alias("p_kn")))


def q_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model conditional probability with add-k
    smoothing: P(w2|w1) = (c12 + k) / (c1 + k·V), V = per-(lang,
    decade) vocabulary size. The building block of n-gram LM scoring
    and perplexity filters over a training corpus.

    Scale shape: reuses the scored contingency table (no extra pass
    over raw ngrams); the vocabulary table is one tiny broadcast
    (|langs|×|decades| rows)."""
    scored = co.q_scored(spark, sf_dir)
    vocab = (co.q_unigram_counts(spark, sf_dir)
             .groupBy("lang", "decade")
             .agg(F.count(F.lit(1)).alias("v")))
    cp = ((F.col("c12") + F.lit(CONDPROB_K))
          / (F.col("c1") + F.lit(CONDPROB_K) * F.col("v")))
    return (scored.join(F.broadcast(vocab), on=["lang", "decade"])
            .select("lang", "decade", "w1", "w2", "c1", "c12", "v",
                    ieee_round(cp, 6).alias("p_w2_given_w1")))


def q_doc_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy under the corpus LM — the
    n-gram-LM quality filter (documents whose bigrams are improbable
    under the corpus model are noise/outliers; 'perplexity filtering'
    in training-data pipelines).

    Each document's cleaned bigrams are scored with the add-k LM from
    ``q_condprob`` (the 6-dp-rounded probabilities — quantized on both
    engines, so ln/sum stay cross-engine stable at 6 dp); bigrams the
    LM does not cover (stopword-filtered or validity-filtered upstream)
    are excluded and reported via n_scored. Scale shape: doc-bigram
    stream is a pure map; one shuffle join against the bounded LM
    table; per-doc aggregation is a partial-agg groupBy."""
    from ..functions.text import clean_token, decade
    from ..sources.ngram_source import pairs_sql

    lm = q_condprob(spark, sf_dir).select(
        "lang", "decade", "w1", "w2",
        F.col("p_w2_given_w1").alias("p"))
    d = _docs_with_tokens(spark, sf_dir)
    db = (d.select("doc_id", "lang", decade(F.col("year")).alias("decade"),
                   F.explode(F.expr(pairs_sql("ts", "t1", "t2")))
                   .alias("bg"))
          .select("doc_id", "lang", "decade",
                  clean_token(F.col("bg.t1")).alias("w1"),
                  clean_token(F.col("bg.t2")).alias("w2"))
          .filter((F.col("w1") != "") & (F.col("w2") != "")))
    joined = db.join(lm, on=["lang", "decade", "w1", "w2"], how="left")
    # per-term -ln(p) is irrational: floor-quantize each term at 1e12
    # and average exactly (order-independent; the ≤1e-12/term
    # truncation is invisible at the round-6 output).
    ce = uavg("-ln(p)", scale=6, unit="1e12", fn="floor",
              huge="DECIMAL(38,0)")
    return (joined.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.count("p").alias("n_scored"),
                 ce.alias("cross_entropy"))
            .filter(F.col("n_scored") > 0))


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, decade) vocabulary size and NEW-vocabulary rate: a
    word is new in the first decade it ever appears. The diachronic
    profile a corpus linguist asks of n-gram data (and a drift signal
    for training-data curation).

    Shape: the distinct (lang, word, decade) set is one partial-agg'd
    shuffle; first-decade per word is a second groupBy over that
    already-deduplicated set (vocabulary-bounded, not corpus-bounded);
    the final per-decade rollup is constant-sized. No windows over raw
    records, no re-scan."""
    from ..functions.text import clean_token, decade
    from ..sources.ngram_source import unigram_records

    recs = unigram_records(spark, sf_dir).select(
        "lang", decade(F.col("year")).alias("decade"),
        clean_token(F.col("token")).alias("word"))
    dis = (recs.filter(F.col("word") != "")
           .dropDuplicates(["lang", "decade", "word"]))
    first = dis.groupBy("lang", "word").agg(
        F.min("decade").alias("first_decade"))
    return (dis.join(first, on=["lang", "word"])
            .groupBy("lang", "decade")
            .agg(F.count(F.lit(1)).alias("n_vocab"),
                 F.sum((F.col("first_decade") == F.col("decade"))
                       .cast("long")).alias("n_new"))
            .withColumn("new_ratio",
                        ieee_round(F.col("n_new") / F.col("n_vocab"), 6)))
