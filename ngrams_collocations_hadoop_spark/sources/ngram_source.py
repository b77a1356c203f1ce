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

``doc_tokens_sql`` is that derivation as Spark SQL: one row per
document with its token array. It is the source of every flagship plan
(``operators.collocations.flagship_sql``, which cleans each array once
and generates both streams from it) and of the record frames here, so
the records never materialize in a flagship plan.

Everything is an expression (split / transform / explode) — token
pairing happens inside codegen with zero shuffles; at 100 TB this stage
is a pure map over the document scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import (OCC_EXPR_SQL, TRANSLIT_HEBREW, TRANSLIT_LATIN,
                         YEAR_EXPR_SQL)
from ..functions.text import _java_lower_duckdb
from ..sources.tables import fan_out as _fan_out, load_table

# The Hebrew corpus derivation (reference second corpus,
# ``Stopwords.java`` heb block): lower() then codepoint translate().
# The expression is shared between the Spark plans and the DuckDB
# oracle EXCEPT for the lower() itself: DuckDB's simple
# case map diverges from Java/Spark on U+0130 and word-final Σ, so
# the oracle variant uses the Java-semantics emulation
# (functions/text.py::_java_lower_duckdb).
def hebrew_text_sql(dialect: str = "spark") -> str:
    low = (_java_lower_duckdb("text") if dialect == "duckdb"
           else "lower(text)")
    return f"translate({low}, '{TRANSLIT_LATIN}', '{TRANSLIT_HEBREW}')"


HEBREW_TEXT_SQL = hebrew_text_sql("spark")


def doc_tokens_sql(src: str, text_sql: str = "text",
                   lang_sql: str = "lang", where_sql: str = "TRUE") -> str:
    """(doc_id, lang, year, occurrences, ts) of the documents ``src``:
    each document's record fields, with its tokens as one array."""
    return f"""SELECT doc_id, {lang_sql} AS lang,
               CAST({YEAR_EXPR_SQL} AS BIGINT) AS year,
               CAST({OCC_EXPR_SQL} AS BIGINT) AS occurrences,
               split({text_sql}, ' ') AS ts
        FROM {src} WHERE {where_sql}"""


def _docs_with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(doc_tokens_sql("{docs}"),
                     docs=_fan_out(load_table(spark, sf_dir, "documents")))


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
