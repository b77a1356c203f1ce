"""Log-likelihood ratio for a 2×2 contingency table, as SQL expression
text: Spark parses it with ``F.expr`` (one pure column expression, inside
whole-stage codegen — no UDF) and the DuckDB oracle runs the same text.

Semantics match reference ``LLR.java:16-47``:
  k11 = c12, k12 = c1-c12, k21 = c2-c12, k22 = N-c1-c2+c12;
  expected counts from row/column marginals; LLR = 2·Σ k·ln(k/e) with
  term(k,e) = 0 when k == 0 or e <= 0.

One deliberate divergence: where the reference returns ``Double.NaN`` on
guard violations (negative cells, non-positive counts) and then filters
NaN downstream (``Job2.java:241``), we return NULL — NULL propagates
cleanly through both Spark and the DuckDB oracle, while NaN ordering /
hashing semantics differ across engines.
"""

from __future__ import annotations

import math


def llr_sql(c1: str, c2: str, c12: str, n: str) -> str:
    """The LLR as ANSI SQL over the four named count columns; NULL where
    the reference returns NaN. Both engines evaluate the same operation
    order, so float64 results agree to the ulp."""
    k11 = f"CAST({c12} AS DOUBLE)"
    k12 = f"CAST({c1} - {c12} AS DOUBLE)"
    k21 = f"CAST({c2} - {c12} AS DOUBLE)"
    k22 = f"CAST({n} - {c1} - {c2} + {c12} AS DOUBLE)"
    row1 = f"({k11} + {k12})"
    row2 = f"({k21} + {k22})"
    col1 = f"({k11} + {k21})"
    col2 = f"({k12} + {k22})"
    total = f"({row1} + {row2})"

    def term(k: str, e: str) -> str:
        return (f"(CASE WHEN {k} > 0 AND {e} > 0 "
                f"THEN {k} * ln({k} / {e}) ELSE 0.0 END)")

    e11 = f"({row1} * {col1} / {total})"
    e12 = f"({row1} * {col2} / {total})"
    e21 = f"({row2} * {col1} / {total})"
    e22 = f"({row2} * {col2} / {total})"
    value = (f"2.0 * ({term(k11, e11)} + {term(k12, e12)} + "
             f"{term(k21, e21)} + {term(k22, e22)})")
    invalid = (f"({k11} < 0 OR {k12} < 0 OR {k21} < 0 OR {k22} < 0 OR "
               f"{n} <= 0 OR {c1} <= 0 OR {c2} <= 0 OR {c12} <= 0 OR "
               f"{total} <= 0)")
    return f"(CASE WHEN {invalid} THEN NULL ELSE {value} END)"


def llr_py(c1: int, c2: int, c12: int, n: int) -> float | None:
    """Scalar Python mirror of reference LLR.java (property-test oracle);
    returns None where the reference returns NaN."""
    k11 = c12
    k12 = c1 - c12
    k21 = c2 - c12
    k22 = n - c1 - c2 + c12
    if k11 < 0 or k12 < 0 or k21 < 0 or k22 < 0:
        return None
    if n <= 0 or c1 <= 0 or c2 <= 0 or c12 <= 0:
        return None
    row1 = float(k11 + k12)
    row2 = float(k21 + k22)
    col1 = float(k11 + k21)
    col2 = float(k12 + k22)
    total = row1 + row2
    if total <= 0:
        return None

    def term(k: float, e: float) -> float:
        if k == 0.0 or e <= 0.0:
            return 0.0
        return k * math.log(k / e)

    e11 = row1 * col1 / total
    e12 = row1 * col2 / total
    e21 = row2 * col1 / total
    e22 = row2 * col2 / total
    return 2.0 * (term(k11, e11) + term(k12, e12)
                  + term(k21, e21) + term(k22, e22))
