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
  as one SQL statement over the ``documents`` view: the text every
  flagship plan is built from (``operators.collocations.flagship_sql``),
  so its plan is ``colloc_topk``'s.

The function bodies are generated by the same SQL builders the DuckDB
oracle uses (functions/llr.py, functions/assoc.py, functions/text.py),
so the three surfaces — DataFrame API, Spark SQL API, DuckDB oracle —
share one definition of the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .functions.assoc import chi_square_sql, pmi_sql, t_score_sql
from .functions.llr import llr_sql
from .functions.text import clean_token_sql, decade_sql
from .operators.collocations import c12_layout, flagship_sql
from .sources.tables import fan_out_width, load_table
from .sources.tables import register_views  # re-export  # noqa: F401


def register_sql_functions(spark: SparkSession) -> None:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clean_token(t STRING) "
        f"RETURNS STRING RETURN {clean_token_sql('t', 'spark')}")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION decade(y BIGINT) "
        f"RETURNS BIGINT RETURN {decade_sql('y')}")
    for name, builder in [("llr", llr_sql), ("pmi", pmi_sql),
                          ("t_score", t_score_sql), ("chi2", chi_square_sql)]:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
            "(c1 BIGINT, c2 BIGINT, c12 BIGINT, n BIGINT) RETURNS DOUBLE "
            f"RETURN {builder('c1', 'c2', 'c12', 'n')}")


def sql_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete reference pipeline as ONE SQL statement over the
    ``documents`` view, with ``fan_out``'s round-robin and the c12
    layout as hints. It registers that view and nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    width = fan_out_width(docs)
    src = (f"(SELECT /*+ REPARTITION({width}) */ * FROM documents)"
           if width else "documents")
    text = flagship_sql("top", layout=c12_layout(spark, sf_dir))
    return spark.sql(text.format(docs=src))
