"""DuckDB oracle-SQL generators.

Every SQL string here is built from the SAME constants and expression
builders the Spark operators use (``constants``, ``functions.text``,
``functions.llr``), so the two sides cannot silently drift. The driver
runs these against the parquet tables registered as views
(region nation customer supplier part orders lineitem events documents
embeddings) and hash-compares against the Spark results.
"""

from __future__ import annotations

from .functions.exact import uavg_sql
from .constants import (LLR_ROUND, OCC_EXPR_SQL, TOP_K, YEAR_EXPR_SQL,
                        stopword_values_sql)
from .functions.assoc import chi_square_sql, pmi_sql, t_score_sql
from .functions.exact import ieee_round_sql
from .functions.llr import llr_sql
from .functions.text import clean_token_sql, decade_sql
from .sources.ngram_source import (
    BIGRAM_RECORDS_SQL,
    HEBREW_TEXT_SQL,
    UNIGRAM_RECORDS_SQL,
    bigram_records_sql,
    unigram_records_sql,
)


def ngram_ctes(uni_sql: str = UNIGRAM_RECORDS_SQL,
               big_sql: str = BIGRAM_RECORDS_SQL,
               quirk: bool = False) -> str:
    """The shared WITH-clause body for all collocation-pipeline oracles:
    raw records -> cleaned/filtered streams -> counts -> scored. The
    record-source CTEs are parameterizable (the Hebrew variant swaps in
    the transliterated corpus; everything downstream is identical).
    ``quirk=True`` swaps c12/totals for the deterministic quirk
    emulation (fragmented per-doc-block c12, last-md5-bucket-wins N —
    ``operators.collocations.c12_quirk_sql`` / ``n_quirk_sql``);
    big_sql must then carry doc_id."""
    uni_word = clean_token_sql("token")
    w1 = clean_token_sql("token1")
    w2 = clean_token_sql("token2")
    big_doc = "b.doc_id, " if quirk else ""
    raw_doc = "doc_id, " if quirk else ""
    if quirk:
        from .operators.collocations import QUIRK_MAPTASKS, QUIRK_REDUCERS
        c12_cte = f"""c12 AS (
    SELECT lang, decade, w1, w2, CAST(sum(occ) AS BIGINT) AS c12
    FROM big GROUP BY lang, decade, w1, w2, doc_id % {QUIRK_MAPTASKS}
),"""
        totals_cte = f"""totals AS (
    SELECT lang, decade, CAST(n_partial AS BIGINT) AS n_total
    FROM (
        SELECT lang, decade, n_partial,
               row_number() OVER (PARTITION BY lang, decade
                                  ORDER BY rid DESC) AS rn
        FROM (
            SELECT lang, decade,
                   ('0x' || substring(md5(lang || '|' ||
                        CAST(decade AS VARCHAR) || '|' || word),
                        1, 4))::BIGINT % {QUIRK_REDUCERS} AS rid,
                   sum(c1) AS n_partial
            FROM c1 GROUP BY 1, 2, 3
        ) p
    ) r WHERE rn = 1
),"""
    else:
        c12_cte = """c12 AS (
    SELECT lang, decade, w1, w2, CAST(sum(occ) AS BIGINT) AS c12
    FROM big GROUP BY lang, decade, w1, w2
),"""
        totals_cte = """totals AS (
    SELECT lang, decade, CAST(sum(occ) AS BIGINT) AS n_total
    FROM uni GROUP BY lang, decade
),"""
    return f"""
uni_raw AS ({uni_sql}),
big_raw AS ({big_sql}),
stop AS (SELECT * FROM {stopword_values_sql()}),
uni AS (
    SELECT u.lang, u.decade, u.word, u.occ
    FROM (
        SELECT lang, {decade_sql('year')} AS decade,
               {uni_word} AS word,
               CAST(occurrences AS BIGINT) AS occ
        FROM uni_raw WHERE occurrences > 0
    ) u
    WHERE u.word <> ''
      AND NOT EXISTS (SELECT 1 FROM stop s
                      WHERE s.lang = u.lang AND s.word = u.word)
),
big AS (
    SELECT {big_doc}b.lang, b.decade, b.w1, b.w2, b.occ
    FROM (
        SELECT {raw_doc}lang, {decade_sql('year')} AS decade,
               {w1} AS w1, {w2} AS w2,
               CAST(occurrences AS BIGINT) AS occ
        FROM big_raw WHERE occurrences > 0
    ) b
    WHERE b.w1 <> '' AND b.w2 <> ''
      AND NOT EXISTS (SELECT 1 FROM stop s
                      WHERE s.lang = b.lang AND s.word = b.w1)
      AND NOT EXISTS (SELECT 1 FROM stop s
                      WHERE s.lang = b.lang AND s.word = b.w2)
),
c1 AS (
    SELECT lang, decade, word, CAST(sum(occ) AS BIGINT) AS c1
    FROM uni GROUP BY lang, decade, word
),
{c12_cte}
{totals_cte}
scored AS (
    -- llr rounding = the shared IEEE floor form (functions.exact.
    -- ieee_round), lockstep with the Spark side's ieee_round; the
    -- inner alias keeps the LLR expression single-eval under the
    -- 3-reference guard.
    SELECT lang, decade, w1, w2, c1, c2, c12, n_total,
           {ieee_round_sql('llr0', LLR_ROUND)} AS llr
    FROM (
        SELECT b.lang, b.decade, b.w1, b.w2,
               u1.c1, u2.c1 AS c2, b.c12, t.n_total,
               {llr_sql('u1.c1', 'u2.c1', 'b.c12', 't.n_total')} AS llr0
        FROM c12 b
        JOIN c1 u1 ON u1.lang = b.lang AND u1.decade = b.decade
                  AND u1.word = b.w1
        JOIN c1 u2 ON u2.lang = b.lang AND u2.decade = b.decade
                  AND u2.word = b.w2
        JOIN totals t ON t.lang = b.lang AND t.decade = b.decade
    )
    WHERE llr0 IS NOT NULL
)
"""


def colloc_unigram_counts_sql() -> str:
    return f"WITH {ngram_ctes()} SELECT lang, decade, word, c1 FROM c1"


def colloc_bigram_counts_sql() -> str:
    return f"WITH {ngram_ctes()} SELECT lang, decade, w1, w2, c12 FROM c12"


def colloc_totals_sql() -> str:
    return f"WITH {ngram_ctes()} SELECT lang, decade, n_total FROM totals"


def colloc_scored_sql() -> str:
    return (f"WITH {ngram_ctes()} "
            f"SELECT lang, decade, w1, w2, c1, c2, c12, n_total, llr "
            f"FROM scored")


def colloc_assoc_sql() -> str:
    args = ("c1", "c2", "c12", "n_total")
    return f"""
WITH {ngram_ctes()}
SELECT lang, decade, w1, w2, c1, c2, c12, n_total, llr,
       {ieee_round_sql(pmi_sql(*args), LLR_ROUND)} AS pmi,
       {ieee_round_sql(t_score_sql(*args), LLR_ROUND)} AS t_score,
       {ieee_round_sql(chi_square_sql(*args), LLR_ROUND)} AS chi2
FROM scored
"""


def colloc_pmi_topk_sql(k: int = 100) -> str:
    args = ("c1", "c2", "c12", "n_total")
    return f"""
WITH {ngram_ctes()},
pmi_scored AS (
    SELECT lang, decade, w1, w2,
           {ieee_round_sql(pmi_sql(*args), LLR_ROUND)} AS pmi
    FROM scored),
ranked AS (
    SELECT lang, decade, w1 || ' ' || w2 AS bigram, pmi,
           CAST(row_number() OVER (
               PARTITION BY lang, decade
               ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
    FROM pmi_scored)
SELECT lang, decade, bigram, pmi, rank FROM ranked WHERE rank <= {k}
"""


def trigram_counts_sql() -> str:
    c1 = clean_token_sql("t1")
    c2 = clean_token_sql("t2")
    c3 = clean_token_sql("t3")
    return f"""
WITH tri_raw AS (
    SELECT lang, year, occurrences, ts[i] AS t1, ts[i+1] AS t2, ts[i+2] AS t3
    FROM (
        SELECT lang,
               CAST({YEAR_EXPR_SQL} AS BIGINT) AS year,
               CAST({OCC_EXPR_SQL} AS BIGINT) AS occurrences,
               string_split(text, ' ') AS ts
        FROM documents
    ) t, UNNEST(range(1, len(ts) - 1)) AS u(i)),
tri AS (
    SELECT lang, {decade_sql('year')} AS decade,
           {c1} AS w1, {c2} AS w2, {c3} AS w3,
           CAST(occurrences AS BIGINT) AS occ
    FROM tri_raw)
SELECT lang, decade, w1, w2, w3, CAST(sum(occ) AS BIGINT) AS c
FROM tri
WHERE w1 <> '' AND w2 <> '' AND w3 <> ''
GROUP BY lang, decade, w1, w2, w3
"""


def colloc_topk_sql(k: int = TOP_K, ctes: str | None = None) -> str:
    return f"""
WITH {ctes if ctes is not None else ngram_ctes()},
ranked AS (
    SELECT lang, decade, w1 || ' ' || w2 AS bigram, llr,
           CAST(row_number() OVER (
               PARTITION BY lang, decade
               ORDER BY llr DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
    FROM scored
)
SELECT lang, decade, bigram, llr, rank FROM ranked WHERE rank <= {k}
"""


def colloc_topk_quirk_sql(k: int = TOP_K) -> str:
    """The flagship oracle under deterministic quirk emulation:
    identical pipeline SQL with the c12/totals CTEs swapped for the
    fragmented-partial / last-bucket-wins forms (bigram records carry
    doc_id so the map-task surrogate is computable)."""
    return colloc_topk_sql(k, ngram_ctes(
        big_sql=bigram_records_sql(keep_doc=True), quirk=True))


def colloc_hebrew_topk_sql(k: int = TOP_K) -> str:
    """The flagship oracle over the derived Hebrew corpus: identical
    pipeline SQL with the record sources swapped for the transliterated
    text and lang pinned to 'he'."""
    from .sources.ngram_source import HEBREW_WHERE_SQL, hebrew_text_sql
    heb = hebrew_text_sql("duckdb")   # Java-lower emulation (U+0130, final sigma)
    return colloc_topk_sql(k, ngram_ctes(
        unigram_records_sql(heb, "'he'", HEBREW_WHERE_SQL),
        bigram_records_sql(heb, "'he'", HEBREW_WHERE_SQL)))


def colloc_condprob_sql() -> str:
    from .operators.ngrams import CONDPROB_K
    k = CONDPROB_K
    return f"""
WITH {ngram_ctes()},
vocab AS (
    SELECT lang, decade, CAST(count(*) AS BIGINT) AS v
    FROM c1 GROUP BY lang, decade)
SELECT lang, decade, w1, w2, c1, c12, v,
       {ieee_round_sql(f'(c12 + {k}) / (c1 + {k} * v)', 6)} AS p_w2_given_w1
FROM scored JOIN vocab USING (lang, decade)
"""


def colloc_doc_cross_entropy_sql() -> str:
    from .functions.text import clean_token_sql, decade_sql
    from .operators.ngrams import CONDPROB_K
    k = CONDPROB_K
    w1 = clean_token_sql("ts[i]")
    w2 = clean_token_sql("ts[i + 1]")
    return f"""
WITH {ngram_ctes()},
vocab AS (
    SELECT lang, decade, CAST(count(*) AS BIGINT) AS v
    FROM c1 GROUP BY lang, decade),
lm AS (
    SELECT lang, decade, w1, w2,
           {ieee_round_sql(f'(c12 + {k}) / (c1 + {k} * v)', 6)} AS p
    FROM scored JOIN vocab USING (lang, decade)),
docbg AS (
    SELECT doc_id, lang, {decade_sql('year')} AS decade,
           {w1} AS w1, {w2} AS w2
    FROM (SELECT doc_id, lang,
                 CAST({YEAR_EXPR_SQL} AS BIGINT) AS year,
                 string_split(text, ' ') AS ts
          FROM documents) t,
         UNNEST(range(1, len(ts))) AS u(i)),
docbg_f AS (SELECT * FROM docbg WHERE w1 <> '' AND w2 <> '')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(count(p) AS BIGINT) AS n_scored,
       {uavg_sql("-ln(p)", scale=6, unit="1e12", fn="floor")} AS cross_entropy
FROM docbg_f LEFT JOIN lm USING (lang, decade, w1, w2)
GROUP BY doc_id HAVING count(p) > 0
"""


def vocab_growth_sql() -> str:
    word = clean_token_sql("token")
    return f"""
WITH uni_raw AS ({UNIGRAM_RECORDS_SQL}),
dis AS (
    SELECT DISTINCT lang, {decade_sql('year')} AS decade,
           {word} AS word
    FROM uni_raw),
dis_f AS (SELECT * FROM dis WHERE word <> ''),
firsts AS (
    SELECT lang, word, min(decade) AS first_decade
    FROM dis_f GROUP BY lang, word)
SELECT d.lang, d.decade,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(sum(CASE WHEN f.first_decade = d.decade THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       {ieee_round_sql('''sum(CASE WHEN f.first_decade = d.decade THEN 1 ELSE 0 END)
             / count(*)::DOUBLE''', 6)} AS new_ratio
FROM dis_f d JOIN firsts f USING (lang, word)
GROUP BY d.lang, d.decade
"""


def colloc_kn_condprob_sql() -> str:
    from .functions.exact import ieee_round_sql
    from .operators.ngrams import _KN_P_SQL

    return f"""
WITH {ngram_ctes()},
sc AS (SELECT lang, decade, w1, w2, c12 FROM scored),
pre AS (
    SELECT lang, decade, w1, CAST(count(*) AS BIGINT) AS n_pre,
           CAST(sum(c12) AS BIGINT) AS ctx1
    FROM sc GROUP BY lang, decade, w1),
post AS (
    SELECT lang, decade, w2, CAST(count(*) AS BIGINT) AS n_post
    FROM sc GROUP BY lang, decade, w2),
tot AS (
    SELECT lang, decade, CAST(count(*) AS BIGINT) AS n_types
    FROM sc GROUP BY lang, decade)
SELECT lang, decade, w1, w2, c12, ctx1,
       {ieee_round_sql(_KN_P_SQL, 6)} AS p_kn
FROM sc
JOIN pre USING (lang, decade, w1)
JOIN post USING (lang, decade, w2)
JOIN tot USING (lang, decade)
"""
