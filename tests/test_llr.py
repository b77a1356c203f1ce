"""LLR (C1) — SQL expression vs scalar Python port of reference
LLR.java:16-47, guard branches, and the properties from SURVEY.md §5."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ngrams_collocations_hadoop_spark.functions.llr import llr_py, llr_sql


def test_guard_branches():
    # reference returns NaN on these; our mirror returns None
    assert llr_py(0, 5, 1, 100) is None          # c1 <= 0
    assert llr_py(5, 0, 1, 100) is None          # c2 <= 0
    assert llr_py(5, 5, 0, 100) is None          # c12 <= 0
    assert llr_py(5, 5, 1, 0) is None            # N <= 0
    assert llr_py(3, 5, 4, 100) is None          # k12 = c1-c12 < 0
    assert llr_py(5, 3, 4, 100) is None          # k21 < 0
    assert llr_py(60, 60, 1, 100) is None        # k22 = N-c1-c2+c12 < 0
    assert llr_py(5, 5, 1, 100) is not None


def test_known_value():
    # independent events: c12 == c1*c2/N exactly → LLR == 0
    assert llr_py(10, 10, 1, 100) == pytest.approx(0.0, abs=1e-12)
    # perfectly associated: w2 always follows w1
    v = llr_py(10, 10, 10, 100)
    assert v is not None and v > 0


@given(
    c12=st.integers(1, 50),
    extra1=st.integers(0, 50),
    extra2=st.integers(0, 50),
    slack=st.integers(0, 200),
)
@settings(max_examples=300, deadline=None)
def test_properties(c12, extra1, extra2, slack):
    c1 = c12 + extra1
    c2 = c12 + extra2
    n = c1 + c2 - c12 + slack  # guarantees k22 >= 0
    v = llr_py(c1, c2, c12, n)
    assert v is not None
    # non-negativity (within domain, up to float error)
    assert v >= -1e-9
    # symmetry under transposing the contingency table
    v_t = llr_py(c2, c1, c12, n)
    assert v_t == pytest.approx(v, rel=1e-12, abs=1e-12)


def test_column_matches_python(spark):
    rows = []
    for c1 in [1, 2, 5, 10, 100]:
        for c2 in [1, 3, 10, 50]:
            for c12 in [1, 2, 5]:
                for n in [10, 100, 1000]:
                    rows.append((c1, c2, c12, n))
    # add guard-violating rows
    rows += [(0, 5, 1, 100), (5, 5, 0, 100), (3, 5, 4, 100),
             (60, 60, 1, 100), (5, 5, 1, 0)]
    df = spark.createDataFrame(rows, ["c1", "c2", "c12", "n"])
    got = df.select(
        "c1", "c2", "c12", "n",
        F.expr(llr_sql("c1", "c2", "c12", "n")).alias("v"),
    ).collect()
    for r in got:
        expected = llr_py(r["c1"], r["c2"], r["c12"], r["n"])
        if expected is None:
            assert r["v"] is None, f"{r}: expected NULL"
        else:
            assert r["v"] == pytest.approx(expected, rel=1e-12), f"{r}"
            assert not math.isnan(r["v"])
