"""Pure-SQL surface: SQL scalar functions (expression macros) match the
Python mirrors, and the one-statement SQL flagship is the text every
flagship plan is built from, so it has colloc_topk's plan and rows."""

from __future__ import annotations

import pytest

from ngrams_collocations_hadoop_spark.functions.llr import llr_py
from ngrams_collocations_hadoop_spark.functions.text import clean_token_ref
from ngrams_collocations_hadoop_spark.operators import collocations as co
from ngrams_collocations_hadoop_spark.operators.collocations import q_topk
from ngrams_collocations_hadoop_spark.sql_api import (
    register_sql_functions, sql_flagship,
)

from .conftest import SF_SMALL


def test_sql_scalar_functions(spark):
    register_sql_functions(spark)
    for raw in ["Hello_NOUN", "_NOUN", "--héllo!!", "plain", "..."]:
        got = spark.sql(f"SELECT clean_token('{raw}') AS c").first()["c"]
        assert got == clean_token_ref(raw), raw
    assert spark.sql("SELECT decade(2017) AS d").first()["d"] == 2010
    r = spark.sql(
        "SELECT llr(15, 8, 6, 30) AS l, pmi(15, 8, 6, 30) AS p, "
        "t_score(15, 8, 6, 30) AS t, chi2(15, 8, 6, 30) AS c").first()
    assert r["l"] == pytest.approx(llr_py(15, 8, 6, 30), rel=1e-12)
    import math
    assert r["p"] == pytest.approx(math.log(6 * 30 / (15 * 8)), rel=1e-12)
    # guard branch → NULL
    assert spark.sql("SELECT llr(0, 8, 6, 30) AS l").first()["l"] is None


def test_sql_functions_are_not_python_udfs(spark):
    register_sql_functions(spark)
    plan = spark.sql(
        "SELECT llr(15, 8, 6, 30)")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sql_flagship_equals_dataframe_flagship(spark):
    a = sorted(map(tuple, sql_flagship(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, q_topk(spark, SF_SMALL).collect()))
    assert a == b


def test_sql_flagship_has_the_topk_plan(spark):
    """Same optimized plan as q_topk, c12 layout and fan-out included."""
    co._COLLOC_MEMO.clear()
    a = q_topk(spark, SF_SMALL)._jdf.queryExecution().optimizedPlan()
    b = sql_flagship(spark, SF_SMALL)._jdf.queryExecution().optimizedPlan()
    assert a.sameResult(b)


def test_sql_flagship_registers_only_the_documents_view(spark):
    """sql_flagship creates no SQL function and no view beyond the one
    it reads."""
    s = spark.newSession()
    sql_flagship(s, SF_SMALL).collect()
    assert not s.catalog.functionExists("llr")
    assert [t.name for t in s.catalog.listTables()
            if t.isTemporary] == ["documents"]
