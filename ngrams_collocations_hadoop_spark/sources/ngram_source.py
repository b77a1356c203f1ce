"""Reference-shaped ngram record streams derived from the `documents`
fixture table (FIXTURES.md §B derivation rule — deterministic, no RNG).

The reference consumes Google N-Grams records
(``ngram \\t year \\t occurrences``; parsing at reference
``Job1.java:126-137`` for unigrams, ``Job1.java:166-181`` for bigrams).
Here the same record families are derived from `documents`:

  unigram records: (lang, token, year, occurrences) — one per token
  bigram records:  (lang, token1, token2, year, occurrences) — one per
                   adjacent token pair

with ``year = 2000 + doc_id % 30`` and ``occurrences = 1 + doc_id % 5``.

The flagship pipelines read ``cleaned_docs`` instead: each document's
token array cleaned in one ``transform``, dropped tokens NULL, no
stopword join; the unigram and bigram streams are generators over that
array. Each stream evaluates the projection on its own branch, so a
token is cleaned twice per query (once per stream), not once.

Everything is a column expression (split / transform / explode) — token
pairing happens inside codegen with zero shuffles; at 100 TB this stage
is a pure map over the document scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import (OCC_EXPR_SQL, TRANSLIT_HEBREW, TRANSLIT_LATIN,
                         YEAR_EXPR_SQL, stopword_sql)
from ..functions.text import _java_lower_duckdb, clean_token, decade
from ..sources.tables import fan_out as _fan_out, load_table

# The Hebrew corpus derivation (reference second corpus,
# ``Stopwords.java`` heb block): lower() then codepoint translate().
# The expression is shared between the Spark operators (F.expr) and
# the DuckDB oracle EXCEPT for the lower() itself: DuckDB's simple
# case map diverges from Java/Spark on U+0130 and word-final Σ, so
# the oracle variant uses the Java-semantics emulation
# (functions/text.py::_java_lower_duckdb).
def hebrew_text_sql(dialect: str = "spark") -> str:
    low = (_java_lower_duckdb("text") if dialect == "duckdb"
           else "lower(text)")
    return f"translate({low}, '{TRANSLIT_LATIN}', '{TRANSLIT_HEBREW}')"


HEBREW_TEXT_SQL = hebrew_text_sql("spark")


def _docs_with_tokens(spark: SparkSession, sf_dir: str,
                      text_sql: str = "text",
                      lang_sql: str = "lang",
                      where_sql: str = "TRUE") -> DataFrame:
    docs = _fan_out(load_table(spark, sf_dir, "documents"))
    return docs.filter(F.expr(where_sql)).select(
        "doc_id", F.expr(lang_sql).alias("lang"),
        F.expr(YEAR_EXPR_SQL).cast("long").alias("year"),
        F.expr(OCC_EXPR_SQL).cast("long").alias("occurrences"),
        F.split(F.expr(text_sql), " ").alias("ts"),
    )


def unigram_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, token, year, occurrences) — raw, pre-cleaning."""
    return _docs_with_tokens(spark, sf_dir).select(
        "lang", "year", "occurrences", F.explode("ts").alias("token"))


# The Hebrew corpus derives from the ENGLISH documents only (one
# source corpus -> one derived corpus, mirroring the reference's
# separate eng/heb EMR runs); the injective transliteration then makes
# the he pipeline output exactly the transliterated en output — pinned
# by test_hebrew_pipeline_parity.
HEBREW_WHERE_SQL = "lang = 'en'"


def bigram_records(spark: SparkSession, sf_dir: str,
                   keep_doc: bool = False) -> DataFrame:
    """(lang, token1, token2, year, occurrences) — adjacent pairs;
    ``keep_doc=True`` carries the source ``doc_id`` (the quirk surface's
    map-task surrogate)."""
    extra = ["doc_id"] if keep_doc else []
    return (
        _docs_with_tokens(spark, sf_dir)
        .select(*extra, "lang", "year", "occurrences",
                F.explode(F.expr(pairs_sql("ts", "token1", "token2")))
                .alias("bg"))
        .select(*extra, "lang", F.col("bg.token1").alias("token1"),
                F.col("bg.token2").alias("token2"), "year", "occurrences")
    )


def pairs_sql(arr: str, a: str, b: str) -> str:
    """struct(arr[i] AS a, arr[i + 1] AS b) for each adjacent pair. The
    slice stops one short of the end, so ``arr[i + 1]`` stays in bounds
    under ANSI mode (unsliced, it raises INVALID_ARRAY_INDEX on the
    last token)."""
    return (f"transform(slice({arr}, 1, greatest(size({arr}) - 1, 0)), "
            f"(x, i) -> struct(x AS {a}, {arr}[i + 1] AS {b}))")


# --- the flagship's source: one cleaned token array per document -------

# The kept words and the adjacent kept pairs of a cleaned array ``cw``
# (reference Job1.java:181-189: a bigram is dropped when either side is)
UNIGRAMS_SQL = "filter(cw, w -> w IS NOT NULL)"
BIGRAM_PAIRS_SQL = (f"filter({pairs_sql('cw', 'w1', 'w2')}, "
                    "p -> p.w1 IS NOT NULL AND p.w2 IS NOT NULL)")


def kept_words_sql(cleaned: str) -> str:
    """``cleaned`` tokens with the empty ones and the stopwords of the
    row's ``lang`` set to NULL; a NULL keeps its position, so it still
    breaks the pairs on both sides of it."""
    return (f"transform({cleaned}, w -> "
            f"IF(w = '' OR {stopword_sql('w')}, NULL, w))")


def cleaned(records: DataFrame, tokens: Column,
            carry: tuple[str, ...] = ()) -> DataFrame:
    """(*carry, lang, decade, occ, cw) of the ``records`` (lang, year,
    occurrences, ...) with occurrences > 0 (reference Job1.java:138,181):
    ``cw`` is ``tokens`` cleaned in one pass, dropped tokens NULL. The streams
    read it through a generator, which Catalyst cannot push a filter
    through, so no Filter repeats the cleaning."""
    return (records.filter(F.col("occurrences") > 0)
            .select(*carry, "lang", decade(F.col("year")).alias("decade"),
                    F.col("occurrences").cast("long").alias("occ"),
                    F.transform(tokens, clean_token).alias("cw"))
            .withColumn("cw", F.expr(kept_words_sql("cw"))))


def cleaned_docs(spark: SparkSession, sf_dir: str,
                 text_sql: str = "text",
                 lang_sql: str = "lang",
                 where_sql: str = "TRUE") -> DataFrame:
    """(doc_id, lang, decade, occ, cw): one ``cleaned`` row per
    document, the source of every flagship plan."""
    return cleaned(_docs_with_tokens(spark, sf_dir, text_sql, lang_sql,
                                     where_sql),
                   F.col("ts"), carry=("doc_id",))


def unigram_stream(docs: DataFrame) -> DataFrame:
    """(lang, decade, word, occ): the kept words of ``cleaned`` rows.
    The Filter tells Catalyst what the generator ensures, so the copies
    feeding the joins (which infer it) and N plan alike and share one
    exchange."""
    return (docs.select("lang", "decade",
                        F.explode(F.expr(UNIGRAMS_SQL)).alias("word"), "occ")
            .filter(F.col("word").isNotNull()))


def bigram_stream(docs: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(*carry, lang, decade, w1, w2, occ): the adjacent kept pairs of
    ``cleaned`` rows (``BIGRAM_PAIRS_SQL``)."""
    return (docs.select(*carry, "lang", "decade",
                        F.explode(F.expr(BIGRAM_PAIRS_SQL)).alias("p"),
                        "occ")
            .select(*carry, "lang", "decade", "p.w1", "p.w2", "occ"))


# --- DuckDB-oracle CTE bodies (same derivation in ANSI SQL) -------------

def unigram_records_sql(text_sql: str = "text",
                        lang_sql: str = "lang",
                        where_sql: str = "TRUE") -> str:
    return f"""
    SELECT {lang_sql} AS lang,
           CAST({YEAR_EXPR_SQL} AS BIGINT) AS year,
           CAST({OCC_EXPR_SQL} AS BIGINT) AS occurrences,
           unnest(string_split({text_sql}, ' ')) AS token
    FROM documents WHERE {where_sql}
"""


def bigram_records_sql(text_sql: str = "text",
                       lang_sql: str = "lang",
                       where_sql: str = "TRUE",
                       keep_doc: bool = False) -> str:
    doc_col = "doc_id," if keep_doc else ""
    return f"""
    SELECT {doc_col}
           lang,
           ts[i] AS token1,
           ts[i + 1] AS token2,
           year,
           occurrences
    FROM (
        SELECT doc_id,
               {lang_sql} AS lang,
               CAST({YEAR_EXPR_SQL} AS BIGINT) AS year,
               CAST({OCC_EXPR_SQL} AS BIGINT) AS occurrences,
               string_split({text_sql}, ' ') AS ts
        FROM documents WHERE {where_sql}
    ) t, UNNEST(range(1, len(ts))) AS u(i)
"""


UNIGRAM_RECORDS_SQL = unigram_records_sql()
BIGRAM_RECORDS_SQL = bigram_records_sql()
