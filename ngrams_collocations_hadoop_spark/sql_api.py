"""The engine's pure-SQL surface.

The reference has no query language at all (SURVEY.md §3); this module
gives the engine one for free via Spark SQL:

- ``register_views(spark, sf_dir)`` (sources.tables) exposes the star
  schema as temp views;
- ``register_sql_functions(spark)`` installs the engine's scalar
  kernels (clean_token, decade, llr, pmi, t_score, chi2) as SQL scalar
  functions (``CREATE TEMPORARY FUNCTION … RETURN expr`` — expression
  macros, JVM-side, fully inside codegen: NOT Python UDFs);
- ``sql_flagship(spark, sf_dir)`` runs the entire reference pipeline
  as one SQL statement, byte-identical to the DataFrame build.

The function bodies are generated by the same SQL builders the DuckDB
oracle uses (functions/llr.py, functions/assoc.py, functions/text.py),
so the three surfaces — DataFrame API, Spark SQL API, DuckDB oracle —
share one definition of the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .constants import LLR_ROUND, OCC_EXPR_SQL, TOP_K, YEAR_EXPR_SQL
from .functions.assoc import chi_square_sql, pmi_sql, t_score_sql
from .functions.exact import ieee_round_sql
from .functions.llr import llr_sql
from .functions.text import clean_token_sql, decade_sql
from .sources.ngram_source import (BIGRAM_PAIRS_SQL, UNIGRAMS_SQL,
                                   kept_words_sql)
from .sources.tables import register_views  # re-export  # noqa: F401


# dialect="spark": Spark's native lower() already has the Java full-case
# semantics the DuckDB variant must emulate. Spark SQL string literals
# process backslash escapes (DuckDB's don't), so the body's backslashes
# (all of them regex ones) are doubled.
_CLEAN_BODY = clean_token_sql("t", dialect="spark").replace("\\", "\\\\")


def register_sql_functions(spark: SparkSession) -> None:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clean_token(t STRING) "
        f"RETURNS STRING RETURN {_CLEAN_BODY}")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION decade(y BIGINT) "
        f"RETURNS BIGINT RETURN {decade_sql('y')}")
    for name, builder in [("llr", llr_sql), ("pmi", pmi_sql),
                          ("t_score", t_score_sql), ("chi2", chi_square_sql)]:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            "(c1 BIGINT, c2 BIGINT, c12 BIGINT, n BIGINT) RETURNS DOUBLE "
            f"RETURN {builder('c1', 'c2', 'c12', 'n')}")


# A SQL function cannot take a lambda variable as its argument, so the
# per-document transform inlines clean_token's body text.
FLAGSHIP_SQL = f"""
WITH docs AS (
    SELECT lang, decade(CAST({YEAR_EXPR_SQL} AS BIGINT)) AS decade,
           CAST({OCC_EXPR_SQL} AS BIGINT) AS occ,
           {kept_words_sql(f"transform(split(text, ' '), t -> {_CLEAN_BODY})")}
               AS cw
    FROM documents
    WHERE {OCC_EXPR_SQL} > 0
),
uni AS (SELECT lang, decade, word, occ
        FROM docs LATERAL VIEW explode({UNIGRAMS_SQL}) x AS word
        WHERE word IS NOT NULL),
big AS (SELECT lang, decade, p.w1, p.w2, occ
        FROM docs LATERAL VIEW explode({BIGRAM_PAIRS_SQL}) x AS p),
c1 AS (SELECT lang, decade, word, sum(occ) AS c1
       FROM uni GROUP BY lang, decade, word),
c12 AS (SELECT lang, decade, w1, w2, sum(occ) AS c12
        FROM big GROUP BY lang, decade, w1, w2),
totals AS (SELECT lang, decade, sum(c1) AS n_total
           FROM c1 GROUP BY lang, decade),
scored AS (
    -- ieee_round form (functions.exact), lockstep with the DataFrame
    -- build and the DuckDB oracle; inner alias keeps llr single-eval.
    SELECT lang, decade, w1, w2,
           {ieee_round_sql('llr0', LLR_ROUND)} AS llr
    FROM (
        SELECT b.lang, b.decade, b.w1, b.w2,
               llr(u1.c1, u2.c1, b.c12, t.n_total) AS llr0
        FROM c12 b
        JOIN c1 u1 ON u1.lang = b.lang AND u1.decade = b.decade
                  AND u1.word = b.w1
        JOIN c1 u2 ON u2.lang = b.lang AND u2.decade = b.decade
                  AND u2.word = b.w2
        JOIN totals t ON t.lang = b.lang AND t.decade = b.decade
        WHERE b.c12 > 0 AND u1.c1 > 0 AND u2.c1 > 0 AND t.n_total > 0
          AND u1.c1 - b.c12 >= 0 AND u2.c1 - b.c12 >= 0
          AND t.n_total - u1.c1 - u2.c1 + b.c12 >= 0
    )
),
ranked AS (
    SELECT lang, decade, concat_ws(' ', w1, w2) AS bigram, llr,
           CAST(row_number() OVER (
               PARTITION BY lang, decade
               ORDER BY llr DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
    FROM scored
)
SELECT lang, decade, bigram, llr, rank FROM ranked WHERE rank <= {TOP_K}
"""


def sql_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete reference pipeline as ONE SQL statement."""
    register_views(spark, sf_dir)
    register_sql_functions(spark)
    return spark.sql(FLAGSHIP_SQL)
