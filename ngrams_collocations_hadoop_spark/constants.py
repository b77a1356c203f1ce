"""Shared constants used by BOTH the Spark operators and the DuckDB
oracle-SQL generators, so the two sides cannot drift.

The reference ships per-language stopword files via the Hadoop distributed
cache (reference ``Stopwords.java:23-43``); here the equivalent is a small
in-code table, tested in place as a per-language predicate
(``stopword_sql``) or inlined as a VALUES list in the oracle SQL.
"""

from __future__ import annotations

LANGS: tuple[str, ...] = ("en", "es", "zh", "fr", "de")

# Per-language stopword lists. A shared core plus one language-specific
# entry each, so the per-(lang, word) drop semantics (reference
# Job1.java:144,189) are actually observable in test output — a plain
# `NOT IN (global set)` would give different counts.
_CORE_STOP: tuple[str, ...] = ("the", "a", "of", "and", "to")
_LANG_EXTRA: dict[str, tuple[str, ...]] = {
    "en": ("is",),
    "es": ("order",),
    "zh": ("value",),
    "fr": ("key",),
    "de": ("row",),
}

STOPWORDS: dict[str, tuple[str, ...]] = {
    lang: _CORE_STOP + _LANG_EXTRA[lang] for lang in LANGS
}

# Hebrew parity (the reference's second corpus: Hebrew with its own
# stopword list, reference ``Stopwords.java`` heb block and
# ``Constants.java:8``). The fixture corpus has no lang='he' documents,
# so the Hebrew pipeline variant derives one deterministically: lower()
# then a fixed latin→Hebrew codepoint translate() — expressible
# identically in Spark and DuckDB. 26 distinct Hebrew glyphs (22
# letters + 4 final forms) keep the map injective, so distinct words
# stay distinct and the corpus statistics are isomorphic to English.
TRANSLIT_LATIN = "abcdefghijklmnopqrstuvwxyz"
TRANSLIT_HEBREW = "אבגדהוזחטיכלמנסעפצקרשתםןץף"
assert len(TRANSLIT_HEBREW) == len(TRANSLIT_LATIN)

_TO_HEBREW = str.maketrans(TRANSLIT_LATIN, TRANSLIT_HEBREW)


def to_hebrew(word: str) -> str:
    """Transliterate a lowercase token the way the Hebrew record
    derivation does (Python twin of the translate() expression)."""
    return word.lower().translate(_TO_HEBREW)


# The he stopword list is the transliteration of the core list plus a
# language-specific extra, so the per-(lang, word) anti-join stays
# observable for Hebrew exactly as for the Latin-script languages.
STOPWORDS["he"] = tuple(to_hebrew(w) for w in _CORE_STOP + ("is",))

# Deterministic derivation of reference-shaped ngram records from the
# `documents` fixture table (FIXTURES.md §B): each document contributes
# its whitespace tokens as unigram records and adjacent pairs as bigram
# records, with a synthetic year/occurrence derived from doc_id.
YEAR_EXPR_SQL = "2000 + doc_id % 30"     # year  ∈ [2000, 2029] → 3 decades
OCC_EXPR_SQL = "1 + doc_id % 5"          # occ   ∈ [1, 5]

TOP_K = 100  # reference Job3 Top-100 per (lang, decade) (Job3.java:56-80)

# Round LLR to this many decimals in both engines before comparison —
# float64 `ln` may differ in the last ulp across libm implementations.
LLR_ROUND = 6


def stopword_sql(word: str) -> str:
    """SQL predicate: ``word`` is a stopword of the row's ``lang``
    (reference Job1.java:144,189) — one CASE arm per language, no join;
    any other or NULL lang keeps every word."""
    arms = " ".join(
        f"WHEN '{l}' THEN {word} IN ('" + "', '".join(ws) + "')"
        for l, ws in STOPWORDS.items())
    return f"(CASE lang {arms} ELSE FALSE END)"


def stopword_values_sql() -> str:
    """Every stopword as `(VALUES ...) AS stop(lang, word)`."""
    rows = ", ".join(f"('{l}', '{w}')"
                     for l, ws in STOPWORDS.items() for w in ws)
    return f"(VALUES {rows}) AS stop(lang, word)"
