"""Token cleaning and decade bucketing as pure column expressions.

Semantics match the reference (``NGramUtils.java:29-39`` cleanToken,
``NGramUtils.java:8`` toDecade) but are expressed as Catalyst column
expressions so they stay inside whole-stage codegen. A Python mirror of
each is provided for property tests.

cleanToken semantics (reference ``NGramUtils.java:29-39``):
  1. trim whitespace;
  2. strip a POS suffix: everything from the first ``_`` on, but only if
     the ``_`` is NOT the first character (Java ``idx > 0``);
  3. trim leading and trailing non-alphanumerics (Unicode ``\\p{L}\\p{N}``);
  4. lowercase.
Both Java regex (Spark) and RE2 (DuckDB) support ``\\p{L}``/``\\p{N}``,
and neither side needs lookbehind, so the same logic is expressible in
the oracle SQL (see ``oracle.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_LEAD = r"^[^\p{L}\p{N}]+"
_TRAIL = r"[^\p{L}\p{N}]+$"


def clean_token(col: Column) -> Column:
    """Column expression implementing reference cleanToken.

    Fast path: a token that is already all-[a-z0-9] is a fixed point of
    the full cleaning chain (no whitespace to trim, no '_' POS
    separator, no edge punctuation, already lowercase), so one cheap
    regex test skips four regex rewrites — 2-3× faster on realistic
    corpora where most tokens are clean. Non-ASCII tokens take the full
    path, so Unicode semantics are unchanged."""
    t = F.trim(col)
    # strip POS suffix only when '_' appears after position 1 (1-based instr)
    t = F.when(F.instr(t, "_") > 1, F.substring_index(t, "_", 1)).otherwise(t)
    t = F.regexp_replace(t, _LEAD, "")
    t = F.regexp_replace(t, _TRAIL, "")
    full = F.lower(F.trim(t))
    # NULL in → '' out, matching reference cleanToken (and the Python
    # mirror clean_token_ref): the reference never returns null.
    return F.coalesce(
        F.when(col.rlike("^[a-z0-9]+$"), col).otherwise(full), F.lit(""))


def _java_lower_duckdb(expr: str) -> str:
    """DuckDB text reproducing Java/Spark ``lower()`` semantics.

    DuckDB's utf8proc lower() is a SIMPLE case map; Java (the
    reference's ``String.toLowerCase``) and Spark apply the FULL
    Unicode mapping, which differs in exactly two ways found by the
    case-hazard fuzz probe (all other probes — ǅ, full-width, ß, ﬁ,
    Cyrillic — agree):
      1. U+0130 (İ) lowercases to i + U+0307 (combining dot above);
      2. word-final capital sigma (preceded by a letter, not followed
         by one) lowercases to final sigma ς, contextually.
    Both are pre-substituted with their LOWERCASE result before
    lower(), so an author-typed lowercase σ at word end is untouched.
    DuckDB-only syntax: RE2 backrefs are ``\\1`` (Spark wants $1) and
    regexp_replace needs the explicit 'g' flag — which is why the
    emulation cannot be shared text with the Spark SQL twin (whose
    native lower() IS the target semantics)."""
    t = f"replace({expr}, 'İ', 'i̇')"
    t = (f"regexp_replace({t}, '(\\p{{L}})Σ($|\\P{{L}})', "
         f"'\\1ς\\2', 'g')")
    return f"lower({t})"


def clean_token_sql(expr: str, dialect: str = "duckdb") -> str:
    """Same cleaning as SQL over an arbitrary string expression.

    DuckDB (the oracle) strips the POS suffix with position(IN)/
    split_part and needs the Java-semantics lowercase emulation
    (``_java_lower_duckdb``). The Spark dialect is ``clean_token``
    written out: the same Catalyst expression, so the SQL function,
    the flagship text and the Column helper clean alike. It uses
    instr/substring_index (split_part allocates an array per token),
    native lower() (already the reference behavior) and the
    all-[a-z0-9] fast path, and doubles the regex backslashes, which
    a Spark SQL string literal would otherwise consume."""
    t = f"trim({expr})"
    if dialect == "duckdb":
        t = (f"(CASE WHEN position('_' IN {t}) > 1 "
             f"THEN split_part({t}, '_', 1) ELSE {t} END)")
        lead, trail = _LEAD, _TRAIL
    else:
        t = (f"(CASE WHEN instr({t}, '_') > 1 "
             f"THEN substring_index({t}, '_', 1) ELSE {t} END)")
        lead, trail = (r.replace("\\", "\\\\") for r in (_LEAD, _TRAIL))
    t = f"regexp_replace({t}, '{lead}', '')"
    t = f"regexp_replace({t}, '{trail}', '')"
    t = f"trim({t})"
    if dialect == "duckdb":
        return f"coalesce({_java_lower_duckdb(t)}, '')"
    return (f"coalesce(CASE WHEN {expr} RLIKE '^[a-z0-9]+$' THEN {expr} "
            f"ELSE lower({t}) END, '')")


def _is_alnum(ch: str) -> bool:
    # Python's \w includes underscore; use explicit Unicode categories to
    # match Java \p{L}\p{N}.
    import unicodedata

    return unicodedata.category(ch)[0] in ("L", "N")


def clean_token_ref(t: str | None) -> str:
    """Faithful Python port of reference cleanToken (property-test oracle)."""
    if t is None:
        return ""
    t = t.strip()
    if not t:
        return ""
    idx = t.find("_")
    if idx > 0:
        t = t[:idx]
    i, j = 0, len(t)
    while i < j and not _is_alnum(t[i]):
        i += 1
    while j > i and not _is_alnum(t[j - 1]):
        j -= 1
    return t[i:j].strip().lower()


def decade(col: Column) -> Column:
    """(year / 10) * 10, as int64 (reference ``NGramUtils.java:8``)."""
    return (F.floor(col / 10) * 10).cast("long")


def decade_sql(expr: str) -> str:
    return f"CAST(floor(({expr}) / 10) * 10 AS BIGINT)"
