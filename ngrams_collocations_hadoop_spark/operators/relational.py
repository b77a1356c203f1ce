"""Relational operator coverage over the star-schema fixtures.

The reference implements exactly one query shape; this module provides
the general operator library a user of an analytics engine needs —
each §2 operator class from SURVEY.md exercised on the TPC-H-ish tables,
plus the categories the reference lacks entirely (§2.8: windows, set
ops, distinct, rollup/cube, JSON scalar functions) which Spark supplies
natively.

Every query here is a pure DataFrame plan — Catalyst handles pushdown,
join strategy (broadcast for the small dims), and partial aggregation.
Float aggregates are rounded in BOTH engines (money sums to 4 d.p.)
because cross-engine double accumulation order differs in the last ulp.

Scale notes: dim joins (region/nation/customer/supplier/part) are
explicitly broadcast — at 100 TB the fact tables shuffle only for
aggregations, never to co-locate against a dim. Window queries
partition by high-cardinality keys (custkey, user_id), not constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import (ieee_round, uavg, uavg_sql, uderive,
                               usum, usum_sql, uterm, uwin_sql,
                               ieee_round_sql)
from ..sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)



# DuckDB reads events.ts as TIMESTAMP_NS; cast to µs-precision TIMESTAMP in
# oracles so both engines emit identical timestamp values. The
# `ts IS NOT NULL` mirrors the scan gate in sources/tables.py::load_table —
# a NULL event time hits every engine disagreement at once (window()
# emits no bucket vs a NULL bucket; ORDER BY NULLS FIRST vs LAST).
# The value REPLACE mirrors the scan's non-finite gate: NaN/±Inf
# measurements become NULL (missing), never magnitudes — ungated,
# CAST(non-finite AS BIGINT) is 0/LONG_MAX in Spark but a hard
# ConversionException here.
EVENTS_US = ("(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts, "
             "CASE WHEN isfinite(value) THEN value END AS value) "
             "FROM events WHERE ts IS NOT NULL)")

# The non-finite-value gate alone (ns timestamps kept), for oracles
# that never emit ts and quantize `value` straight off the scan. The
# trailing alias keeps bare `events` references in the enclosing query
# resolving unchanged; use the _SUB form to pick a different alias.
EVENTS_VFIN_SUB = ("(SELECT * REPLACE (CASE WHEN isfinite(value) THEN "
                   "value END AS value) FROM events)")
EVENTS_VFIN = f"{EVENTS_VFIN_SUB} events"

# --- A: aggregation shapes (A1-A5 generalized + distinct/avg/min/max) ---

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate groupBy with filter pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            usum("l_quantity").alias("sum_qty"),
            usum("l_extendedprice").alias("sum_base_price"),
            usum("l_extendedprice * (1 - l_discount)")
            .alias("sum_disc_price"),
            usum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")
            .alias("sum_charge"),
            uavg("l_quantity").alias("avg_qty"),
            uavg("l_extendedprice").alias("avg_price"),
            uavg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       {sq} AS sum_qty,
       {sbp} AS sum_base_price,
       {sdp} AS sum_disc_price,
       {sc} AS sum_charge,
       {aq} AS avg_qty,
       {ap} AS avg_price,
       {ad} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""".format(sq=usum_sql("l_quantity"),
           sbp=usum_sql("l_extendedprice"),
           sdp=usum_sql("l_extendedprice * (1 - l_discount)"),
           sc=usum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
           aq=uavg_sql("l_quantity"),
           ap=uavg_sql("l_extendedprice"),
           ad=uavg_sql("l_discount"))


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + plain aggregates in one groupBy."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_quantity"), 4).alias("min_qty"),
            F.round(F.max("l_quantity"), 4).alias("max_qty"),
        )
    )


ORACLE_DISTINCT_AGG = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows,
       round(min(l_quantity), 4) AS min_qty,
       round(max(l_quantity), 4) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (absent from the reference, SURVEY.md §2.8)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(usum("l_quantity").alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
    )


ORACLE_ROLLUP = f"""
SELECT l_returnflag, l_linestatus,
       {usum_sql("l_quantity")} AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
-- HAVING mirrors Spark's Expand-based grouping-set semantics on
-- EMPTY input: Spark emits no rows (zero expanded rows -> zero
-- groups, the grand total included) where the standard/DuckDB
-- emits one () row; every group formed from a real row has
-- count(*) >= 1, so this is output-invariant on non-empty input.
HAVING count(*) > 0
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(usum("l_extendedprice").alias("sum_price"))
    )


ORACLE_CUBE = f"""
SELECT l_returnflag, l_linestatus,
       {usum_sql("l_extendedprice")} AS sum_price
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
HAVING count(*) > 0
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → no extra
    distinct-scan job; renamed to stable lowercase column names)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(usum("l_quantity"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )


ORACLE_PIVOT = f"""
SELECT l_returnflag,
       {usum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")}
           AS qty_o,
       {usum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")}
           AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


# --- J: join shapes (J1-J4 generalized) ---------------------------------

def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast dim chain: revenue per region/nation.

    customer/nation/region are broadcast (the reference's distributed-
    cache pattern, J3); lineitem⋈orders is the one real shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            usum("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


ORACLE_STAR_JOIN = f"""
SELECT r_name, n_name,
       {usum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): orders having a high-value lineitem."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_extendedprice") > 5000).select("l_orderkey")
    return (o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))


ORACLE_SEMI_JOIN = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_extendedprice > 5000)
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no high-value orders — the
    stopword anti-join shape (J4 / reference Job1.java:144) on
    relational data. (Predicate chosen to keep the result non-empty at
    every sf — every customer has *some* order in the fixtures.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (c.join(big, c.c_custkey == big.o_custkey, "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment"))


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER + agg: order count per customer including zero."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4)
             .alias("total_spent"))
    )


ORACLE_OUTER_JOIN = """
SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0.0), 4) AS total_spent
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


# --- T: sort / limit / window analytics ---------------------------------

def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by totalprice per customer — T3 generalized.
    row_number ≤ k compiles to WindowGroupLimitExec (partial top-k
    before shuffle, the reference's Job3 combiner for free)."""
    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
    return (o.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk"))


ORACLE_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk
    FROM orders)
WHERE rk <= 3
"""


def q_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT n — global top-N (TakeOrderedAndProject)."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(25)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


ORACLE_GLOBAL_TOPN = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
"""


def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order sort WITHOUT a limit — the "write sorted
    output" path (range-partitioned shuffle + per-partition sort, NOT a
    single-reducer sort). Catalyst samples the sort key to build range
    bounds, so each of the N output partitions holds a contiguous,
    internally-sorted key range: at 100 TB this is the only sort shape
    that works, and it doubles as the writer path for sorted/clustered
    output files (min-max pruning on the sort key for downstream scans).
    Plan-asserted: Exchange rangepartitioning, no TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_quantity") >= 45)
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice")
            .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"),
                     F.asc("l_linenumber")))


ORACLE_GLOBAL_SORT = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_quantity >= 45
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates + lag per user over event time."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = e.withColumn("_rs", F.sum(uterm("value")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    return e.select(
        "user_id", "event_id",
        uderive("_rs").alias("running_value"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
        F.row_number().over(w).cast("long").alias("seq"),
    )


ORACLE_WINDOW_RUNNING = f"""
SELECT user_id, event_id,
       {uwin_sql("value", "(PARTITION BY user_id ORDER BY ts, event_id "
                  "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")}
           AS running_value,
       lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS BIGINT) AS seq
FROM {EVENTS_VFIN} WHERE ts IS NOT NULL
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the reference has no
    statistical aggregates at all; approximate variants are covered by
    error-bound unit tests since approx algorithms differ per engine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
             F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
             F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6)
             .alias("p99_price"))
    )


ORACLE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
FROM lineitem GROUP BY l_returnflag
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below
    20% of their part's average quantity. Catalyst decorrelates into an
    aggregate + join — no per-row subquery execution."""
    li = _t(spark, sf_dir, "lineitem")
    avg_per_part = (li.groupBy(F.col("l_partkey").alias("pk"))
                    .agg(F.avg("l_quantity").alias("avg_qty")))
    return (
        li.join(avg_per_part, li.l_partkey == avg_per_part.pk)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_small"),
             usum("l_extendedprice").alias("small_revenue"))
    )


ORACLE_SCALAR_SUBQUERY = f"""
SELECT l_partkey, count(*) AS n_small,
       {usum_sql("l_extendedprice")} AS small_revenue
FROM lineitem l1
WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = l1.l_partkey)
GROUP BY l_partkey
"""


def q_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time + math scalar functions (absent from the reference —
    §2.8): extract parts, day arithmetic, rounding/power functions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("oyear"),
        F.month("o_orderdate").cast("long").alias("omonth"),
        F.dayofmonth("o_orderdate").cast("long").alias("oday"),
        F.quarter("o_orderdate").cast("long").alias("oquarter"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).cast("long")
        .alias("days_to_2002"),
        F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
        F.round(F.pow(F.col("o_totalprice"), F.lit(0.25)), 6).alias("price_4rt"),
        F.ceil("o_totalprice").cast("long").alias("ceil_price"),
        F.floor("o_totalprice").cast("long").alias("floor_price"),
        F.abs(F.col("o_totalprice") - 100000).cast("double").alias("abs_diff"),
    )


ORACLE_DATE_MATH = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS oyear,
       CAST(month(o_orderdate) AS BIGINT) AS omonth,
       CAST(day(o_orderdate) AS BIGINT) AS oday,
       CAST(quarter(o_orderdate) AS BIGINT) AS oquarter,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
            AS BIGINT) AS days_to_2002,
       round(sqrt(o_totalprice), 6) AS sqrt_price,
       round(pow(o_totalprice, 0.25), 6) AS price_4rt,
       CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
       CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
       CAST(abs(o_totalprice - 100000) AS DOUBLE) AS abs_diff
FROM orders
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions: case, slicing, padding, translation,
    edit distance."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_translated"),
        F.levenshtein("c_name", F.lit("Customer#000000001")).cast("long")
        .alias("lev_to_first"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
    )


ORACLE_STRING_FUNCS = """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       substring(c_name, 1, 8) AS name_prefix,
       CAST(length(c_name) AS BIGINT) AS name_len,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_translated,
       CAST(levenshtein(c_name, 'Customer#000000001') AS BIGINT)
           AS lev_to_first,
       concat_ws('|', c_name, c_mktsegment) AS joined
FROM customer
"""


# --- set operations (absent from reference, §2.8) -----------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION on customer key sets."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    with_open = (o.filter(F.col("o_orderstatus") == "O")
                 .select(F.col("o_custkey").alias("custkey")))
    with_f = (o.filter(F.col("o_orderstatus") == "F")
              .select(F.col("o_custkey").alias("custkey")))
    big_buyers = (
        o.join(li.filter(F.col("l_quantity") > 45), o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("custkey")))
    both = with_open.intersect(with_f)          # INTERSECT (distinct)
    only_open = with_open.distinct().subtract(with_f.distinct())  # EXCEPT
    return (
        both.withColumn("tag", F.lit("both"))
        .unionByName(only_open.withColumn("tag", F.lit("only_open")))
        .unionByName(big_buyers.distinct().withColumn("tag", F.lit("big_buyer")))
    )


ORACLE_SET_OPS = """
WITH with_open AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
     with_f    AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
     big_buyers AS (
        SELECT o_custkey AS custkey FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey WHERE l_quantity > 45)
SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM with_open INTERSECT SELECT custkey FROM with_f)
UNION ALL
SELECT custkey, 'only_open' AS tag FROM (SELECT DISTINCT custkey FROM with_open EXCEPT SELECT DISTINCT custkey FROM with_f)
UNION ALL
SELECT DISTINCT custkey, 'big_buyer' AS tag FROM big_buyers
"""


# --- JSON scalar ops on events.props (§2.8) -----------------------------

def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over a semi-structured props column.

    The extraction path is TOTAL: real event streams carry malformed
    JSON and non-numeric values, and ``get_json_object`` + ``try_cast``
    yield NULL for both (never throw, even under ANSI). The numeric
    conversion is DEFINED explicitly — parse the extracted string as
    DOUBLE, then floor(d + 0.5) — because the engines' own string→int
    casts disagree twice over: DuckDB casts from its JSON type with
    true → 1, and even its string cast parses '1.5' → 2, while Spark's
    try_cast yields NULL for both. With the shared expression, '1.5'
    → 2, '69' → 69, and non-numeric ('x', true) → NULL on BOTH
    engines (DuckDB additionally needs the json_valid guard so
    malformed JSON doesn't hard-error).

    Totality also needs a MAGNITUDE guard: a syntactically valid JSON
    number can be 1e300 or wider-than-long, and the engines' floors
    disagree there — Spark's floor(DOUBLE) returns LONG and silently
    SATURATES at ±LONG_MAX (no ANSI error), while DuckDB's floor stays
    DOUBLE and the bigint cast hard-errors. Out-of-long-range and
    non-finite extracts are NULL (unmeasurable), guarded by the same
    finite+bound test on both sides."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.expr("CASE WHEN abs(try_cast(get_json_object(props, '$.k')"
                   " AS DOUBLE)) < 9.0e18 THEN "
                   "CAST(floor(try_cast(get_json_object(props, '$.k') "
                   "AS DOUBLE) + 0.5E0) AS LONG) END").alias("k"),
        )
        .groupBy("event_type")
        # exact integer sum + one shared IEEE derivation, not
        # round(avg(k), 6): avg-of-BIGINT is the rational-output class
        # where the engines' round() disagree at 6-decimal binary
        # boundaries (the seed-505/953 find), and the engines' avg()
        # internals differ besides. count(k), not count(*): avg
        # excludes NULLs.
        .agg(ieee_round(
                 F.expr("CAST(sum(CAST(k AS DECIMAL(38,0))) AS DOUBLE) "
                        "/ count(k)"), 6).alias("avg_k"),
             F.max("k").alias("max_k"),
             F.count(F.lit(1)).alias("n"))
    )


ORACLE_JSON_EXTRACT = f"""
SELECT event_type,
       {ieee_round_sql("CAST(sum(CAST(k AS HUGEINT)) AS DOUBLE) / count(k)", 6)} AS avg_k,
       max(k) AS max_k, count(*) AS n
FROM (SELECT event_type,
             CASE WHEN json_valid(props)
                   AND abs(TRY_CAST(json_extract_string(props, '$.k')
                           AS DOUBLE)) < 9.0e18
                  THEN CAST(floor(TRY_CAST(json_extract_string(props,
                       '$.k') AS DOUBLE) + 0.5E0) AS BIGINT)
             END AS k
      FROM {EVENTS_US} events)
GROUP BY event_type
"""


# --- time windows + sessionization (batch oracles for streaming ops) ----

def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation (batch form of the
    Structured Streaming operator — same F.window call)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             usum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"),
                "event_type", "n", "sum_value")
    )


ORACLE_TUMBLING_WINDOW = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       count(*) AS n, {usum_sql("value")} AS sum_value
FROM {EVENTS_US} events GROUP BY 1, 2
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour windows every 30 minutes."""
    e = _t(spark, sf_dir, "events")
    # sum+count, not avg: uniform event rates give power-of-two window
    # counts, putting true averages of 2-decimal values EXACTLY on
    # round()'s half-way boundary, where cross-engine ulp noise flips
    # the rounded digit. Sums of 2-decimal values stay ≥0.0049 away
    # from any 4-decimal boundary — comparison-safe at every scale.
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"),
             usum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"), "n", "sum_value")
    )


ORACLE_SLIDING_WINDOW = f"""
WITH slid AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, ts, value FROM {EVENTS_US} events),
wins AS (
    SELECT b AS win_start, ts, value FROM slid
    UNION ALL
    SELECT b - INTERVAL '30 minutes' AS win_start, ts, value FROM slid)
SELECT win_start, count(*) AS n, {usum_sql("value")} AS sum_value
FROM wins GROUP BY win_start
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap, in batch:
    lag + cumulative sum of gap-breaks (the batch-equivalence oracle for
    the streaming session_window operator)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = e.withColumn(
        "new_sess",
        F.when(
            (F.col("ts").cast("long")
             - F.lag(F.col("ts").cast("long"), 1).over(w)) > 1800, 1
        ).otherwise(0).cast("long"),
    )
    sess = gapped.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("ts").alias("session_start"),
             F.max("ts").alias("session_end"),
             usum("value").alias("sum_value"))
    )


ORACLE_SESSIONIZE = f"""
WITH gapped AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                THEN 1 ELSE 0 END AS new_sess
    FROM {EVENTS_US} events),
sess AS (
    SELECT user_id, ts, value,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_seq
    FROM gapped)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       {usum_sql("value")} AS sum_value
FROM sess GROUP BY user_id, session_seq
"""


# Minimum non-null group size for the sketch audit: the ±0.01-quantile
# bound is sound once the window spans >1 rank of slack against the
# exact side's interpolation (see the docstring below): at N=150 the
# +-0.01 window is 1.5 ranks wide vs interpolation slack of <=1 rank
# and digest rank error of 0.015, and the margin only grows with N.
SKETCH_MIN_GROUP = 150


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates per event_type: HyperLogLog++
    distinct users (approx_count_distinct, rsd 1%) and t-digest-style
    value quantiles (approx_percentile, accuracy 10000), checked
    IN-QUERY against their exact counterparts.

    At 100 TB the sketches are the only viable forms — exact
    count-distinct shuffles every key and exact percentiles sort every
    value, while both sketches are fixed-size, mergeable map-side state
    (one narrow partial-agg shuffle, same shape as a sum).

    Oracle strategy: sketch values have no cross-engine twin (DuckDB's
    HLL/t-digest internals differ), so the approximate outputs are
    projected as WITHIN-BOUND BOOLEANS rather than raw values — the
    exact columns are oracle-computed for real, and the booleans are
    oracled as literal TRUE:
    - ``approx_users_within_rsd``: |HLL − exact| ≤ max(5%·exact, 2) —
      5× the 1% rsd, so a pass is deterministic for any correctly
      merged sketch while a broken merge (>5σ) turns it false.
    - ``approx_pXX_within_eps``: the t-digest value lies between the
      exact quantiles at q∓0.01 — accuracy 10000 guarantees rank error
      ≤ 1e-4·N, a 100× margin. The bounds stay on the engines' native
      percentile(): a low-bit interpolation difference cannot flip a
      strict-inequality window except exactly ON the bound.
    This is the ``dedup_simhash_check`` pattern: assert the invariant
    as data, hash-check the assertion.

    The HASHED exact_p50/exact_p99 columns do NOT use the engines'
    percentile()/quantile_cont(): their interpolation formulas are not
    specified to the ulp, so a hashed last digit could flap (the
    q_mad_outliers lesson). Instead both engines interpolate exactly
    over micro-quantized integers: per-group row_number + count give
    the order statistics, lo/r come from exact integer arithmetic
    (p·(n−1) = 100·lo + r), and pXX·100 = v_lo·(100−r) + v_hi·r is an
    exact BIGINT — the rank-and-interpolate exact baseline, same cost
    class as the in-buffer sort percentile() it replaces (per-group
    sort; the sketch columns remain the scale path).

    Quantiles are projected as scalar columns (not array<double>):
    driver/BI result canonicalizers hash row values, and nested arrays
    are unhashable downstream.

    Groups with fewer than SKETCH_MIN_GROUP non-null values are
    excluded on both sides: the ±0.01-quantile window is only a sound
    bound when it spans several ranks — on a tiny group the exact side
    INTERPOLATES between order statistics while the sketch returns a
    discrete element, so the window can exclude a perfectly correct
    sketch value (observed on a ~50-row adversarial group). At any
    production scale every group clears the gate.
    """
    e = load_table(spark, sf_dir, "events")
    quants = F.expr("approx_percentile(value, array(0.5, 0.99), 10000)")
    exacts = F.expr(
        "percentile(value, array(0.49, 0.51, 0.985, 0.995))")
    aq, eq = F.col("_aq"), F.col("_eq")
    sketch = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01)
        .alias("_approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        quants.alias("_aq"), exacts.alias("_eq"),
        F.count("value").alias("_n_vals"))
    # The HASHED percentile columns are exact integer interpolation
    # (the q_mad_outliers doubling idiom, generalized): rank micro-
    # quantized values per group, then p = (v_lo*(100-r) + v_hi*r)/100
    # with lo/r from exact integer arithmetic — no engine percentile()
    # in any hashed value (their interpolation formulas are not
    # specified to the ulp). floor(num/100.0) is exact here: num <
    # 2^53 and the true quotient is never within an ulp of an integer
    # from below. The engines' percentile() survives only inside the
    # within-eps BOOLEAN bounds, where a low-bit difference cannot
    # flip the comparison except ON the bound (and those booleans are
    # oracled as literal TRUE regardless).
    w = Window.partitionBy("event_type").orderBy("q")
    ranked = (e.filter(F.col("value").isNotNull())
              .select("event_type", F.expr(
                  "CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)").alias("q"))
              .withColumn("rn", F.row_number().over(w) - F.lit(1))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("event_type"))))
    def _pct_u100(p: int) -> F.Column:
        lo = f"CAST(floor(({p} * (n - 1)) / 100.0) AS BIGINT)"
        r = f"({p} * (n - 1) - 100 * {lo})"
        return F.sum(F.expr(
            f"CASE WHEN rn = {lo} THEN (100 - {r}) * q "
            f"WHEN rn = {lo} + 1 AND {r} > 0 THEN {r} * q END"))
    pct = ranked.groupBy("event_type").agg(
        _pct_u100(50).alias("_p50_u100"), _pct_u100(99).alias("_p99_u100"))
    # Null-safe join (ADVICE r05): groupBy/PARTITION BY put NULL
    # event_type rows in their own group on both engines, but a plain
    # equi-join here would silently drop that group from the output —
    # <=> preserves it (the sketch_reagg fix, applied to this join).
    return sketch.filter(F.col("_n_vals") >= SKETCH_MIN_GROUP) \
        .join(pct.withColumnRenamed("event_type", "_et"),
              F.col("event_type").eqNullSafe(F.col("_et"))) \
        .drop("_et").select(
            "event_type", "exact_users",
            F.expr("floor((CAST(_p50_u100 AS DOUBLE) + 5000) / 10000) "
                   "/ 1e4").alias("exact_p50"),
            F.expr("floor((CAST(_p99_u100 AS DOUBLE) + 5000) / 10000) "
                   "/ 1e4").alias("exact_p99"),
            (F.abs(F.col("_approx_users") - F.col("exact_users"))
             <= F.greatest(F.lit(0.05) * F.col("exact_users"), F.lit(2.0)))
            .alias("approx_users_within_rsd"),
            aq[0].between(eq[0], eq[1]).alias("approx_p50_within_eps"),
            aq[1].between(eq[2], eq[3]).alias("approx_p99_within_eps"),
        )


ORACLE_APPROX_SKETCHES = f"""
WITH ranked AS (
    SELECT event_type, CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) AS q,
           row_number() OVER (PARTITION BY event_type ORDER BY q) - 1
               AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM {EVENTS_VFIN} WHERE ts IS NOT NULL AND value IS NOT NULL),
pct AS (
    SELECT event_type,
           sum(CASE WHEN rn = CAST(floor((50 * (n - 1)) / 100.0) AS BIGINT)
                    THEN (100 - (50 * (n - 1) - 100 * CAST(floor((50 * (n - 1)) / 100.0) AS BIGINT))) * q
                    WHEN rn = CAST(floor((50 * (n - 1)) / 100.0) AS BIGINT) + 1
                         AND (50 * (n - 1) - 100 * CAST(floor((50 * (n - 1)) / 100.0) AS BIGINT)) > 0
                    THEN (50 * (n - 1) - 100 * CAST(floor((50 * (n - 1)) / 100.0) AS BIGINT)) * q END)
               AS p50_u100,
           sum(CASE WHEN rn = CAST(floor((99 * (n - 1)) / 100.0) AS BIGINT)
                    THEN (100 - (99 * (n - 1) - 100 * CAST(floor((99 * (n - 1)) / 100.0) AS BIGINT))) * q
                    WHEN rn = CAST(floor((99 * (n - 1)) / 100.0) AS BIGINT) + 1
                         AND (99 * (n - 1) - 100 * CAST(floor((99 * (n - 1)) / 100.0) AS BIGINT)) > 0
                    THEN (99 * (n - 1) - 100 * CAST(floor((99 * (n - 1)) / 100.0) AS BIGINT)) * q END)
               AS p99_u100
    FROM ranked GROUP BY event_type)
SELECT s.event_type,
       s.exact_users,
       floor((CAST(p.p50_u100 AS DOUBLE) + 5000) / 10000) / 1e4
           AS exact_p50,
       floor((CAST(p.p99_u100 AS DOUBLE) + 5000) / 10000) / 1e4
           AS exact_p99,
       TRUE AS approx_users_within_rsd,
       TRUE AS approx_p50_within_eps,
       TRUE AS approx_p99_within_eps
FROM (SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             count(value) AS n_vals
      FROM {EVENTS_VFIN} WHERE ts IS NOT NULL GROUP BY event_type
      HAVING count(value) >= {SKETCH_MIN_GROUP}) s
JOIN pct p ON s.event_type IS NOT DISTINCT FROM p.event_type
"""


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family over one window (ntile,
    percent_rank, cume_dist, lag, lead) — one Window node, one
    exchange on the partition key; the o_orderkey tiebreak makes every
    rank deterministic (ties on price alone would make percent_rank /
    cume_dist nondeterministic across engines)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    w = Window.partitionBy("o_orderpriority") \
        .orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        ieee_round(F.percent_rank().over(w), 6).alias("pct_rank"),
        ieee_round(F.cume_dist().over(w), 6).alias("cume"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"))


ORACLE_WINDOW_RANKS = """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       CASE WHEN abs((percent_rank() OVER w)) < 4e9 THEN floor((percent_rank() OVER w) * 1e6 + 0.5E0) / 1e6 ELSE (percent_rank() OVER w) END AS pct_rank,
       CASE WHEN abs((cume_dist() OVER w)) < 4e9 THEN floor((cume_dist() OVER w) * 1e6 + 0.5E0) / 1e6 ELSE (cume_dist() OVER w) END AS cume,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
"""


# Shared Spark/DuckDB derivation texts for the moment-sum family.
# Inputs, univariate (value non-NULL rows): _n (count), _sx/_sxx
# (value micro-sums, 1e6/1e12 grids). Inputs, bivariate (COMPLETE
# pairs — value AND user_id non-NULL, the pairwise-deletion set
# corr/covar use): _np (pair count), _sxp/_sxxp (pair-restricted value
# micro-sums), _sy/_syy (user_id integer sums), _sxy (cross
# micro-sum). The split matters: var_pop(v) runs over every measured
# row while corr(v,u) must restrict EVERY moment — including the x
# moments — to complete pairs, or the result is not the statistic of
# any dataset. Each stat is one fixed expression over exactly-summed
# integers — order-independent where the engines' native
# Welford/co-moment merges are not.
# No pow(): Math.pow (Java) and libm pow (DuckDB) are not correctly
# rounded and can differ by 1 ulp even on squares; plain * is an exact
# IEEE op, identical in both engines.
_VX = ("(CAST(_sxx AS DOUBLE) / 1e12 "
       "- (CAST(_sx AS DOUBLE) / 1e6) * (CAST(_sx AS DOUBLE) / 1e6) "
       "/ _n) / _n")
_VXP = ("(CAST(_sxxp AS DOUBLE) / 1e12 "
        "- (CAST(_sxp AS DOUBLE) / 1e6) * (CAST(_sxp AS DOUBLE) / 1e6) "
        "/ _np) / _np")
_VY = ("(CAST(_syy AS DOUBLE) "
       "- CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE) / _np) / _np")
_CNUM = ("CAST(_sxy AS DOUBLE) / 1e6 "
         "- CAST(_sxp AS DOUBLE) / 1e6 * CAST(_sy AS DOUBLE) / _np")


def _r6(expr: str) -> str:
    """round-to-6 as floor(x*1e6 + 0.5)/1e6 on the SHARED double
    expression. round(x, 6) is NOT portable here: Spark expands the
    double to exact BigDecimal and rounds HALF_UP while DuckDB rounds
    the scaled double, and the two disagree whenever the value's
    binary expansion sits at a 6-decimal boundary (seed-908/-953
    finds: a -0.0 sign flap, then a last-digit covar flap). The floor
    form is pure IEEE arithmetic — every engine computes bit-identical
    doubles from the same moment integers — and never yields -0.0
    (half rounds toward +inf, the repo-wide convention).

    Magnitude guard: Spark's floor(DOUBLE) returns LONG, so x*1e6
    saturates at Long.MAX for |x| > ~9.2e12 (extreme-hazard variances
    reach 1e14). Above 4e9 a double's ulp already exceeds 1e-6 — the
    6-decimal round cannot move the value — so the branch emits the
    shared expression unrounded, still bit-identical in both engines.
    Thin wrapper over the package-wide helper (functions/exact.py)."""
    return ieee_round_sql(expr, 6)


_CORR_EXPRS = [
    "CAST(_n AS BIGINT) AS n",
    _r6(f"CASE WHEN ({_VXP}) * ({_VY}) > 0E0 "
        f"THEN ({_CNUM}) / _np / sqrt(({_VXP}) * ({_VY})) END")
    + " AS corr_vu",
    _r6(f"CASE WHEN _np > 0 THEN ({_CNUM}) / _np END")
    + " AS covar_pop_vu",
    _r6(f"CASE WHEN _np > 1 THEN ({_CNUM}) / (_np - 1) END")
    + " AS covar_samp_vu",
    _r6(f"sqrt(greatest({_VX}, 0E0))") + " AS stddev_pop_v",
    _r6(f"CASE WHEN _n > 1 THEN "
        f"sqrt(greatest(({_VX}) * _n / (_n - 1), 0E0)) END")
    + " AS stddev_samp_v",
    _r6(_VX) + " AS var_pop_v",
    _r6(f"CASE WHEN _n > 1 THEN ({_VX}) * _n / (_n - 1) END")
    + " AS var_samp_v",
]


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bivariate/statistical aggregate family in one groupBy:
    corr, covar_pop/samp, stddev_pop/samp, var_pop/samp — all derived
    from EXACT quantized moment sums (value in 1e6 micro-units, exact
    for ≤6-decimal inputs; user_id already integer), not the engines'
    native Welford/co-moment aggregates, whose merge order and update
    algebra differ between Spark and DuckDB in the low bits. Still one
    single-pass mergeable partial-agg shuffle — integer sums are the
    original mergeable sketch. NULL handling matches the native
    aggregates exactly: var/stddev(v) run over every non-NULL value
    row, while the bivariate stats restrict EVERY moment (x included)
    to complete (value, user_id) pairs — true pairwise deletion.
    Degenerate cases (no pairs, n = 1, zero variance) yield NULL via
    explicit CASE guards, matching the native NULL contract."""
    e = load_table(spark, sf_dir, "events") \
        .filter(F.col("value").isNotNull())
    qx = "CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)"
    qxp = f"CASE WHEN user_id IS NOT NULL THEN {qx} END"
    moments = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.expr(f"CAST({qx} AS DECIMAL(38,0))")).alias("_sx"),
        F.sum(F.expr(f"CAST({qx} AS DECIMAL(38,0)) * {qx}")).alias("_sxx"),
        F.count(F.col("user_id")).alias("_np"),
        F.sum(F.expr(f"CAST({qxp} AS DECIMAL(38,0))")).alias("_sxp"),
        F.sum(F.expr(f"CAST({qxp} AS DECIMAL(38,0)) * {qxp}"))
        .alias("_sxxp"),
        F.sum(F.expr("CAST(user_id AS DECIMAL(38,0))")).alias("_sy"),
        F.sum(F.expr("CAST(user_id AS DECIMAL(38,0)) * user_id"))
        .alias("_syy"),
        F.sum(F.expr(f"CAST({qx} AS DECIMAL(38,0)) * user_id"))
        .alias("_sxy"))
    return moments.selectExpr("event_type", *_CORR_EXPRS)


ORACLE_CORR_STATS = f"""
WITH moments AS (
    SELECT event_type,
           count(*) AS _n,
           sum(CAST(CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) AS HUGEINT)) AS _sx,
           sum(CAST(CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) AS HUGEINT)
               * CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)) AS _sxx,
           count(user_id) AS _np,
           sum(CAST(CASE WHEN user_id IS NOT NULL
                    THEN CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) END
                    AS HUGEINT)) AS _sxp,
           sum(CAST(CASE WHEN user_id IS NOT NULL
                    THEN CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) END
                    AS HUGEINT)
               * CASE WHEN user_id IS NOT NULL
                 THEN CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) END)
               AS _sxxp,
           sum(CAST(user_id AS HUGEINT)) AS _sy,
           sum(CAST(user_id AS HUGEINT) * user_id) AS _syy,
           sum(CAST(CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) AS HUGEINT)
               * user_id) AS _sxy
    FROM {EVENTS_VFIN}
    WHERE value IS NOT NULL AND ts IS NOT NULL
    GROUP BY event_type)
SELECT event_type, {", ".join(_CORR_EXPRS)}
FROM moments
"""


# --- time-range window frames -------------------------------------------

def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving aggregate per user via a RANGE window
    frame over event-time seconds — the value-based frame, where each
    row's window is [ts-3600s, ts], unlike the ROWS frames elsewhere
    (rel_window_running) that count physical rows.

    Ordering is by epoch seconds (timestamp truncated to long) so the
    frame bound is a plain numeric offset in both engines; RANGE frames
    include all order-value peers, which makes the result deterministic
    without a tiebreak column. One exchange on user_id; the frame is
    bounded by time, not cardinality, so state per row stays O(events
    per user-hour) at any scale."""
    e = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = (Window.partitionBy("user_id").orderBy(sec)
         .rangeBetween(-3600, 0))
    e = e.withColumn("_ts_sum", F.sum(uterm("value")).over(w))
    return e.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        uderive("_ts_sum").alias("sum_trailing_1h"),
    )


ORACLE_WINDOW_RANGE = f"""
SELECT user_id, event_id,
       count(*) OVER w AS n_trailing_1h,
       {uwin_sql("value", "w")} AS sum_trailing_1h
FROM {EVENTS_US}
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# --- funnel analysis -----------------------------------------------------

def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel per user: the earliest view,
    the earliest click strictly after it, and the earliest purchase
    strictly after that. The staple product-analytics sequence query.

    Shape: three filtered min-aggregations chained by user_id joins —
    every shuffle is on the same high-cardinality key, so Catalyst
    reuses one hash partitioning across the cascade; per-stage state is
    one timestamp per user. (The window-free formulation: an ordered
    collect_list per user would carry every event through the shuffle,
    and its worst-case per-user array is unbounded at 100 TB.)"""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    views = (e.filter(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    clicks = (e.filter(F.col("event_type") == "click")
              .join(views, on="user_id")
              .filter(F.col("ts") > F.col("t_view"))
              .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    buys = (e.filter(F.col("event_type") == "purchase")
            .join(clicks, on="user_id")
            .filter(F.col("ts") > F.col("t_click"))
            .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    return (views
            .join(clicks, on="user_id", how="left")
            .join(buys, on="user_id", how="left")
            .select("user_id", "t_view", "t_click", "t_purchase",
                    (F.lit(1) + F.col("t_click").isNotNull().cast("int")
                     + F.col("t_purchase").isNotNull().cast("int"))
                    .cast("long").alias("stage")))


ORACLE_FUNNEL = f"""
WITH ev AS (SELECT * FROM {EVENTS_US}),
v AS (SELECT user_id, min(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT ev.user_id, min(ts) AS t_click FROM ev
      JOIN v ON ev.user_id = v.user_id
      WHERE event_type = 'click' AND ts > t_view GROUP BY ev.user_id),
p AS (SELECT ev.user_id, min(ts) AS t_purchase FROM ev
      JOIN c ON ev.user_id = c.user_id
      WHERE event_type = 'purchase' AND ts > t_click GROUP BY ev.user_id)
SELECT v.user_id, t_view, t_click, t_purchase,
       CAST(1 + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT
            AS BIGINT) AS stage
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


# --- per-group anomaly flagging -----------------------------------------

def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is an outlier (|z| > 2) within their
    event_type population — the groupBy-stats + self-join-free outlier
    scan (stats via an unbounded window over the group, one exchange,
    no second pass over the raw table). Emits only the flagged rows,
    so output stays tiny however large the input.

    The group mean/stddev come from EXACT quantized moment sums (1e6
    micro-units, exact for ≤6-decimal values), derived with one
    expression text shared with the oracle — the native avg/stddev
    window aggregates accumulate in engine order, and a low-bit
    difference flips both the round-6 zscore text and the |z| > 2
    membership at the boundary. NULL values are excluded (no
    measurement, no anomaly)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    qx = "CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)"
    w = Window.partitionBy("event_type")
    e = (e.withColumn("_n", F.count(F.lit(1)).over(w))
         .withColumn("_sx", F.sum(F.expr(
             f"CAST({qx} AS DECIMAL(38,0))")).over(w))
         .withColumn("_sxx", F.sum(F.expr(
             f"CAST({qx} AS DECIMAL(38,0)) * {qx}")).over(w)))
    return (e.select("event_id", "event_type", "value",
                     F.expr(_ZSCORE_EXPR).alias("zscore"))
            .filter(F.abs(F.col("zscore")) > 2))


# Sample stddev from the exact sums; NULL z for n <= 1 or zero variance
# (matches stddev_samp's NULL / division-undefined contract).
# same portability rules as _CORR_EXPRS: no pow() (1-ulp divergence),
# floor-half instead of round() (engines disagree at 6-decimal
# boundaries of the double's binary expansion)
_ZS_VAR = ("(CAST(_sxx AS DOUBLE) / 1e12 "
           "- (CAST(_sx AS DOUBLE) / 1e6) * (CAST(_sx AS DOUBLE) / 1e6) "
           "/ _n)")
_ZSCORE_EXPR = (
    f"floor((CASE WHEN _n > 1 AND {_ZS_VAR} > 0E0 "
    f"THEN (value - CAST(_sx AS DOUBLE) / 1e6 / _n) "
    f"/ sqrt({_ZS_VAR} / (_n - 1)) END) * 1e6 + 0.5E0) / 1e6")

ORACLE_ANOMALY_ZSCORE = f"""
SELECT event_id, event_type, value, zscore
FROM (SELECT event_id, event_type, value,
             {_ZSCORE_EXPR} AS zscore
      FROM (SELECT event_id, event_type, value,
                   count(*) OVER w AS _n,
                   sum(CAST(CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)
                       AS HUGEINT)) OVER w AS _sx,
                   sum(CAST(CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) AS HUGEINT)
                       * CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)) OVER w AS _sxx
            FROM {EVENTS_VFIN}
            WHERE value IS NOT NULL AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY event_type)))
WHERE abs(zscore) > 2
"""


# --- event-transition matrix (Markov chain over user journeys) ----------

def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences:
    for each (event_type -> next event_type) pair, the transition count
    and probability. One window pass (lead over user journey) + one
    small groupBy — the scan shuffles once on user_id and the counts
    shuffle a |types|² matrix, constant-size output at any scale."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.select("user_id", "event_type",
                      F.lead("event_type", 1).over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull()))
    counts = pairs.groupBy("event_type", "next_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    w_from = Window.partitionBy("event_type")
    return counts.select(
        "event_type", "next_type", "n",
        ieee_round(F.col("n") / F.sum("n").over(w_from), 6).alias("prob"))


ORACLE_EVENT_TRANSITIONS = """
WITH pairs AS (
    SELECT event_type,
           lead(event_type, 1) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS next_type
    FROM events WHERE ts IS NOT NULL),
counts AS (
    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM pairs WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type)
SELECT event_type, next_type, n,
       CASE WHEN abs((n / (sum(n) OVER (PARTITION BY event_type))::DOUBLE)) < 4e9 THEN floor((n / (sum(n) OVER (PARTITION BY event_type))::DOUBLE) * 1e6 + 0.5E0) / 1e6 ELSE (n / (sum(n) OVER (PARTITION BY event_type))::DOUBLE) END
           AS prob
FROM counts
"""


# --- key-skew profiler ---------------------------------------------------

SKEW_TOPN = 20


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key distribution profiler: the heaviest join/agg keys
    with their share of all rows and ratio to the mean key load — the
    diagnostic you run BEFORE picking a salting factor or enabling AQE
    skew handling for a key (`skew.py::salted_join` is the cure; this
    is the thermometer). One groupBy + a broadcast scalar join +
    global top-N (TakeOrdered — only N rows reach the driver side)."""
    o = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    counts = o.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.sum("n").alias("total"),
        F.avg("n").alias("mean_n"))
    return (counts.crossJoin(F.broadcast(stats))
            .select("l_orderkey", "n",
                    ieee_round(F.col("n") / F.col("total"), 6).alias("share"),
                    ieee_round(F.col("n") / F.col("mean_n"), 6)
                    .alias("x_mean"))
            .orderBy(F.desc("n"), F.asc("l_orderkey"))
            .limit(SKEW_TOPN))


ORACLE_KEY_SKEW = f"""
WITH counts AS (
    SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_orderkey),
stats AS (SELECT sum(n) AS total, avg(n) AS mean_n FROM counts)
SELECT l_orderkey, n,
       CASE WHEN abs((n / total::DOUBLE)) < 4e9 THEN floor((n / total::DOUBLE) * 1e6 + 0.5E0) / 1e6 ELSE (n / total::DOUBLE) END AS share,
       CASE WHEN abs((n / mean_n)) < 4e9 THEN floor((n / mean_n) * 1e6 + 0.5E0) / 1e6 ELSE (n / mean_n) END AS x_mean
FROM counts CROSS JOIN stats
ORDER BY n DESC, l_orderkey ASC
LIMIT {SKEW_TOPN}
"""


# --- blocked fuzzy string matching ---------------------------------------

FUZZY_MAX_DISTANCE = 3


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution style fuzzy matching: distinct part names that
    agree on a blocking key (their head noun — the last name token)
    and sit within Levenshtein distance 3. Classic blocked string-join:
    the equi-join on the block key does the pruning (quadratic only
    within a block, and block sizes are bounded by the noun
    vocabulary); the edit-distance filter runs inside codegen on the
    joined rows. At larger block sizes the block key would extend to
    (noun, length-band) — same plan shape."""
    p = (_t(spark, sf_dir, "part")
         .select(F.col("p_name").alias("name"))
         .distinct()
         .withColumn("block", F.element_at(F.split("name", " "), -1)))
    a = p.select(F.col("name").alias("name_a"), "block")
    b = p.select(F.col("name").alias("name_b"), "block")
    return (a.join(b, on="block")
            .filter(F.col("name_a") < F.col("name_b"))
            .withColumn("distance",
                        F.levenshtein("name_a", "name_b").cast("long"))
            .filter(F.col("distance") <= FUZZY_MAX_DISTANCE)
            .select("block", "name_a", "name_b", "distance"))


ORACLE_FUZZY_MATCH = f"""
WITH p AS (
    SELECT DISTINCT p_name AS name,
           string_split(p_name, ' ')[-1] AS block
    FROM part)
SELECT a.block AS block, a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance
FROM p a JOIN p b ON a.block = b.block AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DISTANCE}
"""


# --- unpivot / melt ------------------------------------------------------

def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (melt): the three lineitem measures become
    (metric, val) rows, then a per-metric summary. Spark's native
    unpivot plans a single Expand pass — one scan emitting 3 rows per
    input row, no self-union re-scan (the UNION ALL form in the oracle
    re-reads the table per measure; fine for DuckDB at oracle scale,
    wrong at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric", valueColumnName="val")
    return (long.groupBy("metric")
            .agg(F.count(F.lit(1)).alias("n"),
                 usum("val").alias("total"),
                 uavg("val").alias("mean")))


ORACLE_UNPIVOT = f"""
WITH long AS (
    SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, 'l_discount', l_discount FROM lineitem)
SELECT metric, CAST(count(*) AS BIGINT) AS n,
       {usum_sql("val")} AS total, {uavg_sql("val")} AS mean
FROM long GROUP BY metric
"""


# --- equi-depth histogram ------------------------------------------------

HIST_BINS = 10


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram of order value: ntile(10)-exact
    bins with per-bin count/min/max/sum — the data-profiling complement
    of the equi-width bucket (each bin holds ~the same row count, so
    bin EDGES describe the distribution).

    Scale shape — the naive form is ``ntile(10) OVER (ORDER BY …)``,
    but an unpartitioned window moves EVERY row to one task: a
    scale-killer. Instead the exact global rank is computed the way a
    distributed sort does: range-repartition on the (unique) sort key,
    row_number WITHIN each range partition (window partitioned by
    partition id — parallel), then add each partition's start offset,
    derived from the tiny per-partition counts via a broadcast
    triangular self-join (P² rows, no window at all). The ntile bin is
    then pure integer arithmetic on the rank — bit-identical to the
    oracle's ntile, with every stage distributed. Rank is invariant to
    where the range boundaries land, so the sampling inside
    repartitionByRange cannot perturb the output."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    parts = (o.repartitionByRange(
                 spark.sparkContext.defaultParallelism,
                 F.col("o_totalprice"), F.col("o_orderkey"))
             .withColumn("pid", F.spark_partition_id()))
    w_loc = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    local = parts.withColumn("lr", F.row_number().over(w_loc))
    cnts = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    offs = (cnts.alias("a")
            .join(F.broadcast(cnts.alias("b")),
                  F.col("b.pid") < F.col("a.pid"), "left")
            .groupBy(F.col("a.pid").alias("pid"))
            .agg(F.coalesce(F.sum("b.c"), F.lit(0)).alias("off")))
    total = cnts.agg(F.sum("c").alias("nn"))
    ranked = (local.join(F.broadcast(offs), on="pid")
              .crossJoin(F.broadcast(total))
              .withColumn("rank", F.col("lr") + F.col("off")))
    # ntile(B): q = N div B, r = N mod B; bins 1..r hold q+1 rows —
    # pure integer arithmetic, exact at any N.
    binned = ranked.withColumn("bin", F.expr(f"""
        CAST(CASE
          WHEN rank <= (nn % {HIST_BINS}) * (nn div {HIST_BINS} + 1)
          THEN (rank - 1) div (nn div {HIST_BINS} + 1)
          ELSE (nn % {HIST_BINS})
               + (rank - (nn % {HIST_BINS}) * (nn div {HIST_BINS} + 1) - 1)
                 div (nn div {HIST_BINS})
        END + 1 AS BIGINT)"""))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("o_totalprice"), 4).alias("lo"),
                 F.round(F.max("o_totalprice"), 4).alias("hi"),
                 usum("o_totalprice").alias("total")))


ORACLE_EQUIDEPTH_HISTOGRAM = f"""
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 4) AS lo,
       round(max(o_totalprice), 4) AS hi,
       {usum_sql("o_totalprice")} AS total
FROM (SELECT o_totalprice,
             CAST(ntile({HIST_BINS}) OVER
                  (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bin
      FROM orders)
GROUP BY bin
"""


# --- first/last/nth window family ---------------------------------------

def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full partition —
    the window functions rel_window_ranks doesn't cover. The frame is
    pinned to the WHOLE partition (unbounded both ways): last_value's
    default frame ends at CURRENT ROW, a classic cross-engine trap —
    both engines get the explicit frame so the semantics are the
    anchor row's partition extremes."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_totalprice", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return o.select(
        "o_orderkey", "o_orderpriority",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(w).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_cheapest"))


ORACLE_WINDOW_FIRSTLAST = """
SELECT o_orderkey, o_orderpriority,
       first_value(o_totalprice) OVER w AS cheapest,
       last_value(o_totalprice) OVER w AS priciest,
       nth_value(o_totalprice, 2) OVER w AS second_cheapest
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --- ordered string aggregation ------------------------------------------

def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: the region's nations as one
    sorted comma-joined string. collect_list order is
    partition-arrival-dependent, so the sort happens INSIDE the
    aggregate output (array_sort before join) — the only way ordered
    listagg is reproducible on a distributed engine."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (n.join(F.broadcast(r),
                   n["n_regionkey"] == r["r_regionkey"])
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_nations"),
                 F.array_join(F.array_sort(F.collect_list("n_name")), ",")
                 .alias("nations")))


ORACLE_STRING_AGG = """
SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- incremental aggregate maintenance -----------------------------------

def merge_partial_aggs(*partials: DataFrame) -> DataFrame:
    """Merge per-batch partial aggregates (n, total) into the combined
    rollup — the algebraic-aggregate contract that makes incremental
    batch pipelines work: yesterday's aggregate + today's delta without
    re-scanning history. Works for any commutative monoid state (count,
    sum, min/max, HLL/quantile sketches); averages derive at read time.

    The summed state is exact integer micro-units (``total_u``), not a
    double: a double sum is accumulation-order dependent, so the
    batch-split sum could differ from the oracle's whole-table sum in
    the 6th decimal of the derived mean (observed on an adversarial
    corpus with round-boundary values). Long sums are exact in any
    order — the mergeable-state contract this operator demonstrates
    needs that anyway — and the float total/mean derive once at read
    time with one fixed expression shared with the oracle."""
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    return (out.groupBy("event_type")
            .agg(F.sum("n").alias("n"),
                 F.sum("total_u").alias("total_u"))
            .select("event_type", "n",
                    F.expr("floor((CAST(total_u AS DOUBLE) + 50) / 100) "
                           "/ 1e4").alias("total"),
                    F.expr("CAST(floor(CAST(total_u AS DOUBLE) / n "
                           "+ 0.5E0) AS DOUBLE) / 1e6").alias("mean")))


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup correctness: aggregate the events table as
    two disjoint halves (old/new batch, split on event_id parity — a
    stand-in for date partitions), merge the partial aggregates, and
    emit the combined per-type stats. The oracle aggregates the whole
    table directly, so any non-mergeable state or double-count in the
    merge turns the row red. Scale: each batch aggregates only its own
    partition pruning window; the merge shuffles |groups| rows, not
    history."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(floor(value * 1e6) AS BIGINT)"))
             .alias("total_u"))

    old = partial(e.filter(F.col("event_id") % 2 == 0))
    new = partial(e.filter(F.col("event_id") % 2 == 1))
    return merge_partial_aggs(old, new)


ORACLE_INCREMENTAL_AGG = f"""
WITH m AS (SELECT event_type, count(*) AS n,
                  sum(CAST(floor(value * 1e6) AS BIGINT)) AS total_u
           FROM {EVENTS_VFIN}
           WHERE ts IS NOT NULL GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       floor((CAST(total_u AS DOUBLE) + 50) / 100) / 1e4 AS total,
       CAST(floor(CAST(total_u AS DOUBLE) / n + 0.5E0) AS DOUBLE) / 1e6
           AS mean
FROM m
"""


# --- robust outlier detection (median absolute deviation) ----------------

MAD_K = 3.0          # |x - median| > K * MAD flags an outlier


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier profile: per event_type, the median,
    the median absolute deviation (exact two-pass percentile), and the
    count/fraction of events beyond MAD_K·MAD — the data-quality
    monitor that, unlike z-scores (`q_anomaly_zscore`), is immune to
    the outliers it is hunting.

    Scale shape: two group-bounded exact-percentile aggregates (group
    count is tiny, so each is one partial-agg'd shuffle of group
    cardinality), medians rejoined by broadcast — never a global sort
    or window; the flagging pass is a map-side comparison. Exact
    percentile sorts within each group's aggregation buffer; for
    groups too large for that, swap in approx_percentile with the same
    plan (the repo pins that accuracy pattern in q_approx_sketches).

    Determinism: the percentiles run over integer MICRO values. An
    even-count median interpolates (a+b)/2, which lands exactly on
    half a 1e-6 grid step — where the engines' round(x, 6) disagree
    (fuzz-observed .xxxxx75 flap). Doubling through the interpolation
    keeps everything integer: med_u2 = 2·median, mad_u4 = 4·MAD (two
    interpolations deep) are exact BIGINTs in both engines, outputs
    derive with the floor-half idiom, and the outlier test
    |v−med| > K·MAD becomes the exact integer comparison
    2·|2q−med_u2| > 3·mad_u4 — no float ever decides membership."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", "value",
        F.expr("CAST(floor(value * 1e6 + 0.5E0) AS BIGINT)").alias("q"))
    med = (e.groupBy("event_type")
           .agg(F.expr("CAST(percentile(q, 0.5) * 2 AS BIGINT)")
                .alias("med_u2")))
    mad = (e.join(F.broadcast(med), on="event_type")
           .groupBy("event_type")
           .agg(F.first("med_u2").alias("med_u2"),
                F.expr("CAST(percentile(abs(2 * q - med_u2), 0.5) * 2 "
                       "AS BIGINT)").alias("mad_u4")))
    return (e.join(F.broadcast(mad), on="event_type")
            .groupBy("event_type")
            .agg(F.first(F.expr(
                     "floor((CAST(med_u2 AS DOUBLE) + 1) / 2) / 1e6"))
                 .alias("median"),
                 F.first(F.expr(
                     "floor((CAST(mad_u4 AS DOUBLE) + 2) / 4) / 1e6"))
                 .alias("mad"),
                 F.first(F.expr(
                     "CASE WHEN abs((CAST(mad_u4 AS DOUBLE) / 4e6 * 1.4826E0)) < 4e9 THEN floor((CAST(mad_u4 AS DOUBLE) / 4e6 * 1.4826E0) * 1e6 + 0.5E0) / 1e6 ELSE (CAST(mad_u4 AS DOUBLE) / 4e6 * 1.4826E0) END"))
                 .alias("robust_sigma"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr("CAST(2 * abs(2 * q - med_u2) > 3 * mad_u4 "
                              "AS LONG)")).alias("n_outliers"))
            .withColumn("outlier_frac", F.expr(
                "floor(CAST(n_outliers AS DOUBLE) * 1e6 / n + 0.5E0) "
                "/ 1e6")))


ORACLE_MAD_OUTLIERS = f"""
WITH ev AS (
    SELECT event_type, value,
           CAST(floor(value * 1e6 + 0.5E0) AS BIGINT) AS q
    FROM {EVENTS_VFIN} WHERE ts IS NOT NULL),
med AS (
    SELECT event_type, CAST(quantile_cont(q, 0.5) * 2 AS BIGINT) AS med_u2
    FROM ev GROUP BY event_type),
mad AS (
    SELECT e.event_type, any_value(med_u2) AS med_u2,
           CAST(quantile_cont(abs(2 * q - med_u2), 0.5) * 2 AS BIGINT)
               AS mad_u4
    FROM ev e JOIN med USING (event_type)
    GROUP BY e.event_type)
SELECT e.event_type,
       floor((CAST(any_value(mad.med_u2) AS DOUBLE) + 1) / 2) / 1e6
           AS median,
       floor((CAST(any_value(mad.mad_u4) AS DOUBLE) + 2) / 4) / 1e6
           AS mad,
       CASE WHEN abs((CAST(any_value(mad.mad_u4) AS DOUBLE) / 4e6 * 1.4826E0)) < 4e9 THEN floor((CAST(any_value(mad.mad_u4) AS DOUBLE) / 4e6 * 1.4826E0) * 1e6 + 0.5E0) / 1e6 ELSE (CAST(any_value(mad.mad_u4) AS DOUBLE) / 4e6 * 1.4826E0) END
           AS robust_sigma,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN 2 * abs(2 * q - mad.med_u2) > 3 * mad.mad_u4
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       floor(CAST(sum(CASE WHEN 2 * abs(2 * q - mad.med_u2)
                           > 3 * mad.mad_u4 THEN 1 ELSE 0 END) AS DOUBLE)
             * 1e6 / count(*) + 0.5E0) / 1e6 AS outlier_frac
FROM ev e JOIN mad USING (event_type)
GROUP BY e.event_type
"""


# --- explicit GROUPING SETS ----------------------------------------------

def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form ROLLUP/CUBE are sugar
    for: per (returnflag, linestatus), per returnflag alone, and the
    grand total, but NOT per linestatus alone (the set CUBE would add).
    One Expand pass + one aggregation, same plan family as
    `q_rollup`/`q_cube`; `grouping_id` disambiguates the NULL produced
    by set expansion from a NULL group value."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus")
        .agg(usum("l_quantity").alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"),
             F.grouping_id().alias("gid"))
    )


ORACLE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus,
       {usum_sql("l_quantity")} AS sum_qty, count(*) AS n_rows,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
            AS BIGINT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
HAVING count(*) > 0
"""


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: how many orders are "open"
    (placed but not fully shipped) over time, reported as the monthly
    max of the concurrency profile sampled at its change points.

    The classic formulation needs a GLOBAL running sum over the event
    timeline — an unpartitioned window, i.e. a single-task sort at
    scale. Instead this uses the distributed two-phase prefix sum:

      1. intervals → ±1 deltas, aggregated per day (shuffle is bounded
         by the number of DISTINCT days, not by rows);
      2. running sum WITHIN each year partition (parallel windows);
      3. per-year grand totals (a handful of rows) → triangular
         broadcast self-join yields each year's prefix offset;
      4. day-level concurrency = within-year running + year offset.

    Semantics note: the profile is sampled at delta days (the value
    AFTER that day's change); months with no open/close events carry no
    row. The oracle computes the identical sampled profile."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    close = li.groupBy("l_orderkey") \
        .agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
    iv = (o.select("o_orderkey", F.to_date("o_orderdate").alias("open_day"))
          .join(close, F.col("o_orderkey") == F.col("l_orderkey"))
          .select("open_day", "close_day"))
    deltas = (iv.select(F.explode(F.array(
                  F.struct(F.col("open_day").alias("day"),
                           F.lit(1).alias("d")),
                  F.struct(F.date_add("close_day", 1).alias("day"),
                           F.lit(-1).alias("d")))).alias("e"))
              .select("e.day", "e.d")
              .groupBy("day").agg(F.sum("d").alias("delta"))
              .withColumn("yr", F.year("day")))
    run_in_year = F.sum("delta").over(Window.partitionBy("yr").orderBy("day"))
    ytot = deltas.groupBy("yr").agg(F.sum("delta").alias("ydelta"))
    off = (ytot.alias("a")
           .join(F.broadcast(ytot.alias("b")),
                 F.col("b.yr") < F.col("a.yr"), "left")
           .groupBy(F.col("a.yr").alias("yr"))
           .agg(F.coalesce(F.sum("b.ydelta"), F.lit(0)).alias("off")))
    daily = (deltas.withColumn("run_y", run_in_year)
             .join(F.broadcast(off), "yr")
             .select("day", (F.col("run_y") + F.col("off"))
                     .alias("open_orders")))
    return (daily.groupBy(F.date_trunc("month", "day").alias("month"))
            .agg(F.max("open_orders").cast("long").alias("max_open_orders")))


ORACLE_INTERVAL_OVERLAP = """
WITH close AS (
    SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_day
    FROM lineitem GROUP BY l_orderkey),
iv AS (
    SELECT CAST(o_orderdate AS DATE) AS open_day, close_day
    FROM orders JOIN close ON o_orderkey = l_orderkey),
deltas AS (
    SELECT day, sum(d) AS delta FROM (
        SELECT open_day AS day, 1 AS d FROM iv
        UNION ALL
        SELECT close_day + 1, -1 FROM iv) u
    GROUP BY day),
daily AS (
    SELECT day, sum(delta) OVER (ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_orders
    FROM deltas)
SELECT CAST(date_trunc('month', day) AS TIMESTAMP) AS month,
       CAST(max(open_orders) AS BIGINT) AS max_open_orders
FROM daily GROUP BY 1
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + forward fill (LOCF): densify per-type
    hourly totals onto a complete hourly spine, carrying the last
    observed value across gaps — the standard prep before joining
    metrics of different cadences.

    Scale shape: the raw aggregation shuffles once on (type, hour); the
    spine is generated from a single-row min/max aggregate broadcast
    against the distinct types (both tiny); the LOCF window partitions
    by event_type (at 100 TB with unbounded history, partition by
    (type, coarse epoch) and stitch epoch boundaries with the same
    prefix-offset trick as q_interval_overlap).

    Determinism: the hourly totals are exact integer micro-unit sums
    (the ``q_ewma`` idiom) — a grouped DOUBLE sum is partial-agg-order
    dependent and a round-to-4 boundary flip would flap the hashed
    gate; the float is derived once, after the LOCF carry."""
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1e6)).cast("long")
                   .alias("vm")))
    bounds = ev.groupBy().agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"))
    spine_h = bounds.select(F.explode(
        F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    spine = ev.select("event_type").distinct() \
        .crossJoin(F.broadcast(spine_h))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (spine.join(hourly, ["event_type", "hour"], "left")
            .withColumn("filled", F.col("vm").isNull())
            .withColumn("vm_ff",
                        F.coalesce(F.last("vm", ignorenulls=True).over(w),
                                   F.lit(0)))
            .select("event_type", "hour",
                    F.expr("round(vm_ff / 1e6, 6)").alias("value_ff"),
                    "filled"))


ORACLE_GAP_FILL = f"""
WITH e AS (SELECT * FROM {EVENTS_US} AS t),
hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS vm
    FROM e GROUP BY 1, 2),
b AS (SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM e),
spine AS (
    SELECT t.event_type, h.hour
    FROM (SELECT DISTINCT event_type FROM e) t,
         (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          FROM b) h),
ff AS (
    SELECT s.event_type, s.hour,
           coalesce(last_value(vm IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS vm_ff,
           vm IS NULL AS filled
    FROM spine s LEFT JOIN hourly h USING (event_type, hour))
SELECT event_type, hour, round(vm_ff / 1e6, 6) AS value_ff, filled
FROM ff
"""


# --- EWMA smoothing (exponential moving average, adjust form) -----------

EWMA_ALPHA = 0.25   # smoothing factor; decay = 1 - alpha = 3/4
EWMA_H = 24         # truncated horizon (hours of history per point)

# The EWMA recursion y_t = a*x_t + (1-a)*y_{t-1} is order-dependent —
# unrunnable as a distributed aggregate. The truncated adjust form
#   y_t = sum_{k<min(t,H)} (1-a)^k x_{t-k} / sum_{k<min(t,H)} (1-a)^k
# is an H-term windowed expression instead. Determinism: the weights
# (3/4)^k are EXACT binary doubles (3^k < 2^53 for k < 25), computed
# once in Python and embedded as full-precision literals in BOTH
# dialects; the numerator is one explicit chained expression, so the
# float addition ORDER is fixed by the shared text, not by engine
# aggregation order; x is an exact integer micro-unit sum.
_EWMA_W = [(1 - EWMA_ALPHA) ** k for k in range(EWMA_H)]
_EWMA_D = [sum(_EWMA_W[:m]) for m in range(1, EWMA_H + 1)]
_EWMA_OVER = "OVER (PARTITION BY event_type ORDER BY hour)"
# E-notation forces BOTH parsers to read the literals as DOUBLE — a
# bare 19-digit decimal would parse as DECIMAL, and Spark's
# precision-loss rounding on DECIMAL x BIGINT would then diverge from
# DuckDB's exact DECIMAL arithmetic before the final division.
_EWMA_NUM = " + ".join(
    [f"{_EWMA_W[0]!r}E0 * xm"]
    + [f"{w!r}E0 * lag(xm, {k}, 0) {_EWMA_OVER}"
       for k, w in enumerate(_EWMA_W) if k > 0])
_EWMA_DEN = ("CASE least(row_number() " + _EWMA_OVER + f", {EWMA_H}) "
             + " ".join(f"WHEN {m + 1} THEN {d!r}E0"
                        for m, d in enumerate(_EWMA_D))
             + " END")
_EWMA_EXPR = f"{ieee_round_sql(f'({_EWMA_NUM}) / 1e6 / ({_EWMA_DEN})', 6)}"


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type EWMA over the hourly event series — the standard
    smoothing/trend feature ahead of anomaly scoring or forecasting
    (compose with ``q_gap_fill`` first when a dense spine is needed).

    Scale shape: one (type, hour) shuffle for the exact micro-unit
    hourly sums, then per-type windows (parallel across types; for one
    unbounded series, partition by (type, epoch) and stitch boundaries
    with the prefix-offset trick from ``q_interval_overlap``). The H
    lag() calls share ONE window frame — Catalyst collapses them into
    a single WindowExec, so the plan sorts each partition once."""
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1e6)).cast("long")
                   .alias("xm")))
    return hourly.selectExpr(
        "event_type", "hour",
        "round(xm / 1e6, 6) AS hourly_value",
        f"{_EWMA_EXPR} AS ewma")


ORACLE_EWMA = f"""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS xm
    FROM {EVENTS_US} events GROUP BY 1, 2)
SELECT event_type, hour,
       round(xm / 1e6, 6) AS hourly_value,
       {_EWMA_EXPR} AS ewma
FROM hourly
"""


# --- SCD Type-2 history build (gaps-and-islands) ------------------------

SCD2_SENTINEL = "2200-01-01 00:00:00"   # open-ended valid_to (kept
# inside pandas' ns-timestamp range, unlike the classic 9999-12-31)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 build: collapse each user's
    event stream into versioned attribute intervals — one row per RUN
    of equal ``event_type``, with ``valid_from``/``valid_to``
    boundaries, a version number, and an ``is_current`` flag (open
    intervals carry a far-future sentinel). The warehouse
    operator every dimension pipeline runs on ingest.

    Scale shape: two user-partitioned windows (run detection needs
    lag over ALL events; interval close needs lead over run STARTS
    only — the filter between them is why they cannot fuse), both on
    the same (user_id × ts) ordering, so the rows shuffle ONCE and
    both windows reuse the exchange. No global sort, no driver state.
    Ties on ts break by event_id — deterministic in both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (ev.select("user_id", "event_type", "ts", "event_id")
              .withColumn("prev_type", F.lag("event_type").over(w))
              .filter(F.col("prev_type").isNull()
                      | (F.col("prev_type") != F.col("event_type"))))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (starts
            .withColumn("valid_to", F.lead("ts").over(w2))
            .select("user_id", "event_type",
                    F.col("ts").alias("valid_from"),
                    F.coalesce("valid_to",
                               F.lit(SCD2_SENTINEL).cast("timestamp"))
                    .alias("valid_to"),
                    F.row_number().over(w2).cast("long").alias("version"),
                    F.lead("ts").over(w2).isNull().alias("is_current")))


# Shared SCD2 run-detection CTE body (expects an `ev` CTE in scope).
# Three oracles consume it (SCD2 history, PIT enrichment, streaming
# SCD2 enrichment) — one definition so the run rule cannot drift.
SCD2_STARTS_SQL = """
    SELECT user_id, event_type, ts, event_id
    FROM (SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM ev)
    WHERE prev_type IS NULL OR prev_type <> event_type"""

ORACLE_SCD2_HISTORY = f"""
WITH ev AS {EVENTS_US},
starts AS ({SCD2_STARTS_SQL})
SELECT user_id, event_type, ts AS valid_from,
       coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                TIMESTAMP '{SCD2_SENTINEL}') AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS BIGINT) AS version,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           AS is_current
FROM starts
"""


# --- sketch re-aggregation (HLL union across rollup grains) -------------

HLL_LGK = 12   # 2^12 registers -> rsd ~1.6%; bounds below use 5%


def q_sketch_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch RE-AGGREGATION pattern: distinct-user sketches are
    built once at day grain (``hll_sketch_agg``, Datasketches binary
    state) and rolled up to per-type totals by UNIONING SKETCHES
    (``hll_union_agg``) — never re-scanning raw events. At 100 TB this
    is how distinct-count dashboards work: fine-grain sketch tables
    persist, every coarser grain is a cheap merge of kilobyte states.

    Checked in-query, ``rel_approx_sketches``-style (approximate values
    have no cross-engine twin, and the post-union estimate drops the
    HIP estimator, so merged ≠ direct by design):
    - exact columns (day count, exact distinct users) oracle-computed;
    - ``reagg_within_rsd`` / ``direct_within_rsd``: each estimate
      within max(5%·exact, 2) of exact (3× the lgK=12 rsd);
    - ``reagg_close_to_direct``: the two estimates within
      max(3%·exact, 2) of each other — a broken union (double counting
      or dropped sketch) explodes this long before it trips the rsd."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.expr(f"hll_sketch_agg(user_id, {HLL_LGK})")
                  .alias("sk")))
    per_type = (daily.groupBy("event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                     F.expr("hll_sketch_estimate(hll_union_agg(sk, true))")
                     .alias("_est_m")))
    # the exact side exists only to CHECK the sketches; it is the very
    # shuffle-every-key plan the sketches replace at 100 TB
    direct = (ev.groupBy("event_type")
              .agg(F.expr(f"hll_sketch_estimate("
                          f"hll_sketch_agg(user_id, {HLL_LGK}))")
                   .alias("_est_d"),
                   F.countDistinct("user_id").cast("long")
                   .alias("exact_users")))
    # Null-safe join key (<=>): an untyped (NULL event_type) group is
    # real data — both aggregation paths produce it — but a plain
    # equi-join silently drops it, making the audit report one group
    # fewer than the corpus has. The oracle keeps the NULL group.
    j = (per_type.alias("m")
         .join(direct.alias("d"),
               F.expr("m.event_type <=> d.event_type"))
         .select(F.col("m.event_type").alias("event_type"),
                 "n_days", "exact_users", "_est_m", "_est_d"))
    bound = F.greatest(F.col("exact_users") * 0.05, F.lit(2.0))
    close = F.greatest(F.col("exact_users") * 0.03, F.lit(2.0))
    return j.select(
        "event_type", "n_days", "exact_users",
        (F.abs(F.col("_est_m") - F.col("exact_users")) <= bound)
        .alias("reagg_within_rsd"),
        (F.abs(F.col("_est_d") - F.col("exact_users")) <= bound)
        .alias("direct_within_rsd"),
        (F.abs(F.col("_est_m") - F.col("_est_d")) <= close)
        .alias("reagg_close_to_direct"))


ORACLE_SKETCH_REAGG = f"""
WITH ev AS {EVENTS_US}
SELECT event_type,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS reagg_within_rsd,
       TRUE AS direct_within_rsd,
       TRUE AS reagg_close_to_direct
FROM ev GROUP BY event_type
"""


# --- CUSUM change-point detection ---------------------------------------

# Standard CUSUM tuning, derived per type from the series' own
# moments: slack k = sigma/2 (ignore half-sigma noise), alarm h =
# 4*sigma. Both are integers derived from exact sums, never a float
# stddev aggregation.
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector over the hourly per-type series:
    S_t = max(0, S_{t-1} + (x_t − μ − k)), alarm when S_t > h. The
    sequential-recursion form is undistributable, but the classic
    identity S_t = C_t − min_{s≤t} C_s (C = plain prefix sum of the
    deviations) turns it into TWO per-type window scans — the same
    dissolve-the-recursion move as the EWMA truncation and the
    interval-overlap prefix sum.

    Determinism: the series is exact integer milli-units; μ and σ come
    from exact integer moment sums (σ = floor(sqrt((Σx²−(Σx)²/n)/n)),
    one fixed derivation), so k = σ/2, h = 4σ and BOTH prefix scans
    are integer-exact — no float accumulates anywhere.

    NULL measurements are dropped up front (a sensor gap is no sample):
    an hour bucket with only NULLs would otherwise produce a NULL xm
    that NULL-poisons the whole downstream chain (mu/sd/alarm) —
    detected by the adversarial-corpus fuzz."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1000)).cast("long")
                   .alias("xm")))
    stats = (hourly.groupBy("event_type")
             .agg(F.sum(F.col("xm").cast("decimal(38,0)")).alias("sx"),
                  F.sum(F.col("xm").cast("decimal(38,0)")
                        * F.col("xm")).alias("sxx"),
                  F.count(F.lit(1)).alias("n"))
             .selectExpr(
                 "event_type",
                 "CAST(floor(CAST(sx AS DOUBLE) / n) AS BIGINT) AS mu",
                 "CAST(floor(sqrt((CAST(sxx AS DOUBLE) "
                 "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n)) "
                 "AS BIGINT) AS sd"))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = (hourly.join(F.broadcast(stats), "event_type")
         .withColumn("dev", F.col("xm") - F.col("mu")
                     - F.expr("sd div 2")))
    c = d.withColumn("c", F.sum("dev").over(w))
    s = c.withColumn("s", F.col("c")
                     - F.least(F.min("c").over(w), F.lit(0)))
    return s.select(
        "event_type", "hour",
        F.round(F.col("s") / 1000.0, 6).alias("cusum"),
        (F.col("s") > 4 * F.col("sd")).alias("alarm"))


ORACLE_CUSUM = f"""
WITH ev AS {EVENTS_US},
hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS xm
    FROM ev WHERE value IS NOT NULL GROUP BY 1, 2),
stats AS (
    SELECT event_type,
           CAST(floor(CAST(sum(CAST(xm AS HUGEINT)) AS DOUBLE)
                      / count(*)) AS BIGINT) AS mu,
           CAST(floor(sqrt((CAST(sum(CAST(xm AS HUGEINT) * xm) AS DOUBLE)
                - CAST(sum(CAST(xm AS HUGEINT)) AS DOUBLE)
                  * CAST(sum(CAST(xm AS HUGEINT)) AS DOUBLE) / count(*))
               / count(*))) AS BIGINT) AS sd
    FROM hourly GROUP BY event_type),
d AS (
    SELECT h.event_type, hour, xm - mu - (sd // 2) AS dev, sd
    FROM hourly h JOIN stats USING (event_type)),
c AS (
    SELECT event_type, hour, sd,
           sum(dev) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM d),
s AS (
    SELECT event_type, hour, sd,
           c - least(min(c) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
    FROM c)
SELECT event_type, hour, round(s / 1000.0, 6) AS cusum,
       s > 4 * sd AS alarm
FROM s
"""


# --- retention cohort matrix --------------------------------------------

def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort analysis: users grouped by first-activity week
    (the cohort), activity counted per week-offset from that cohort —
    the (cohort_week, week_offset) → distinct-users matrix every
    product-analytics stack computes, plus retention as a fraction of
    the cohort's size.

    Scale shape: first-seen is one user-keyed aggregate; the activity
    join is user-keyed (same key — exchange reuse); the matrix
    aggregate is bounded by weeks² cells. Cohort sizes re-join
    broadcast (weeks rows). Retention = distinct users, so doubled
    events don't inflate it."""
    ev = _t(spark, sf_dir, "events")
    first = (ev.groupBy("user_id")
             .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    act = (ev.join(first, "user_id")
           .select("user_id", "cohort_week",
                   (F.floor((F.date_trunc("week", "ts").cast("long")
                             - F.col("cohort_week").cast("long"))
                            / (7 * 86400))).cast("long")
                   .alias("week_offset")))
    matrix = (act.groupBy("cohort_week", "week_offset")
              .agg(F.countDistinct("user_id").cast("long")
                   .alias("active_users")))
    sizes = (first.groupBy("cohort_week")
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("cohort_size")))
    return (matrix.join(F.broadcast(sizes), "cohort_week")
            .select("cohort_week", "week_offset", "active_users",
                    "cohort_size",
                    ieee_round(F.col("active_users")
                               / F.col("cohort_size"), 6).alias("retention")))


ORACLE_RETENTION_COHORTS = f"""
WITH ev AS {EVENTS_US},
first AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM ev GROUP BY user_id),
act AS (
    SELECT e.user_id, cohort_week,
           CAST(floor((epoch(date_trunc('week', e.ts))
                       - epoch(cohort_week)) / (7 * 86400)) AS BIGINT)
               AS week_offset
    FROM ev e JOIN first USING (user_id)),
matrix AS (
    SELECT cohort_week, week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM act GROUP BY 1, 2),
sizes AS (
    SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT)
               AS cohort_size
    FROM first GROUP BY 1)
SELECT cohort_week, week_offset, active_users, cohort_size,
       CASE WHEN abs((active_users / CAST(cohort_size AS DOUBLE))) < 4e9 THEN floor((active_users / CAST(cohort_size AS DOUBLE)) * 1e6 + 0.5E0) / 1e6 ELSE (active_users / CAST(cohort_size AS DOUBLE)) END AS retention
FROM matrix JOIN sizes USING (cohort_week)
"""


# --- sliding-window distinct counting -----------------------------------

SLIDE_DISTINCT_H = 24   # trailing window width, hours


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type over a TRAILING 24-hour window,
    evaluated at every hour that has activity. COUNT(DISTINCT) does
    not decompose over sliding windows (set unions aren't subtractable,
    so no window-aggregate works); the distributed form inverts the
    problem: each (type, user, active-hour) CONTRIBUTES to the 24
    window positions it can be seen from, and after deduplicating
    (type, user, window-hour) the count is a plain per-key aggregate.

    Scale shape: dedup to (type, user, hour) first (one shuffle,
    activity-bounded), then a map-side ×W fan-out and one
    distinct-count shuffle — total volume W × active-(type,user,hour)
    triples, independent of raw event counts. W is the knob: for big
    windows over fine grains, coarsen the contribution grain first.
    Only hours with actual activity are reported (the fan-out creates
    candidate hours, which the semi-join against real hours prunes) —
    matching the oracle's per-active-hour evaluation."""
    ev = _t(spark, sf_dir, "events")
    tuh = (ev.select("event_type", "user_id",
                     F.date_trunc("hour", "ts").alias("h"))
           .distinct())
    hours = tuh.select("event_type", "h").distinct()
    contrib = (tuh.select(
        "event_type", "user_id",
        F.explode(F.expr(
            f"sequence(h, h + INTERVAL {SLIDE_DISTINCT_H - 1} HOURS, "
            f"INTERVAL 1 HOUR)")).alias("wh"))
        .dropDuplicates(["event_type", "user_id", "wh"]))
    return (contrib
            .join(hours.select("event_type", F.col("h").alias("wh")),
                  on=["event_type", "wh"], how="left_semi")
            .groupBy("event_type", F.col("wh").alias("hour"))
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("distinct_users_24h")))


ORACLE_SLIDING_DISTINCT = f"""
WITH ev AS {EVENTS_US},
tuh AS (
    SELECT DISTINCT event_type, user_id, date_trunc('hour', ts) AS h
    FROM ev),
hours AS (SELECT DISTINCT event_type, h FROM tuh)
SELECT hours.event_type, hours.h AS hour,
       CAST(count(DISTINCT t.user_id) AS BIGINT) AS distinct_users_24h
FROM hours JOIN tuh t
  ON t.event_type = hours.event_type
 AND t.h <= hours.h
 AND t.h > hours.h - INTERVAL {SLIDE_DISTINCT_H} HOURS
GROUP BY 1, 2
"""


# --- one-pass data profiler ---------------------------------------------

PROFILE_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate"]


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of every lineitem column in ONE scan:
    row count, null count, and exact distinct cardinality per column,
    melted to one row per column — the ingest-gate report a pipeline
    runs before trusting a new drop of data.

    Scale shape: a single wide aggregate; the exact multi-column
    COUNT(DISTINCT)s share one Expand pass (Catalyst's
    RewriteDistinctAggregates), so the scan happens once regardless of
    column count. At 100 TB swap exact ndv for approx_count_distinct
    per column — identical query shape, fixed-size state
    (the `rel_sketch_reagg` machinery). Output carries only integers,
    so the profile hashes identically everywhere."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for col in PROFILE_COLS:
        # count(CASE ...), not sum(CASE ...): count is 0 over an EMPTY
        # table where sum is NULL — the oracle's count(*)-count(col)
        # form is 0 there, and an empty drop profiles as "0 nulls".
        aggs.append(F.count(F.when(F.col(col).isNull(), 1))
                    .cast("long").alias(f"_null_{col}"))
        aggs.append(F.countDistinct(col).cast("long").alias(f"_ndv_{col}"))
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{col}', _null_{col}, _ndv_{col}" for col in PROFILE_COLS)
    return wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack}) AS "
        f"(column_name, n_nulls, n_distinct)",
        "CAST(_n AS BIGINT) AS n_rows")


ORACLE_PROFILE = "\nUNION ALL\n".join(
    f"SELECT '{col}' AS column_name, "
    f"CAST(count(*) - count({col}) AS BIGINT) AS n_nulls, "
    f"CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct, "
    f"CAST(count(*) AS BIGINT) AS n_rows FROM lineitem"
    for col in PROFILE_COLS)


# --- snapshot diff (CDC between two table versions) ---------------------

def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two snapshots of the orders table
    (old = keys with ``o_orderkey % 10 != 0``; new = keys ``% 7 != 0``
    with URGENT orders re-priced +10% — deterministic stand-ins for
    yesterday's and today's loads): emit one row per differing key,
    classified INSERT / DELETE / UPDATE — the audit diff every
    warehouse runs after a reload, and the input of an incremental
    downstream refresh.

    Scale shape: ONE full-outer join on the key with md5 row-hash
    comparison — change detection never compares column-by-column
    across the wire; the hash is computed map-side and only keys +
    hashes shuffle. Unchanged rows (the overwhelming majority at
    100 TB) drop before any wide row is materialized."""
    o = _t(spark, sf_dir, "orders")
    rh = F.md5(F.concat_ws("|", F.col("o_custkey").cast("string"),
                           F.col("o_orderpriority"),
                           F.round("o_totalprice", 4).cast("string")))
    old = (o.filter(F.col("o_orderkey") % 10 != 0)
           .select(F.col("o_orderkey").alias("k"), rh.alias("h_old")))
    new = (o.filter(F.col("o_orderkey") % 7 != 0)
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderpriority") == "1-URGENT",
                              # exact 10% bump in 1e7-unit ints —
                              # same idiom as q_merge_upsert
                              F.expr(
                                  "floor((CAST(floor(o_totalprice * 1e7 + 0.5E0) "
                                  "AS BIGINT) * 11 + 5000) / 10000) / 1e4"))
                       .otherwise(F.col("o_totalprice")))
           .select(F.col("o_orderkey").alias("k"), rh.alias("h_new")))
    j = old.join(new, on="k", how="full_outer")
    return (j.withColumn(
        "change",
        F.when(F.col("h_old").isNull(), F.lit("INSERT"))
        .when(F.col("h_new").isNull(), F.lit("DELETE"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("UPDATE")))
        .filter(F.col("change").isNotNull())
        .select(F.col("k").alias("o_orderkey"), "change"))


ORACLE_SNAPSHOT_DIFF = """
WITH old AS (
    SELECT o_orderkey AS k,
           md5(concat_ws('|', o_custkey::VARCHAR, o_orderpriority,
                         round(o_totalprice, 4)::VARCHAR)) AS h
    FROM orders WHERE o_orderkey % 10 <> 0),
new AS (
    SELECT o_orderkey AS k,
           md5(concat_ws('|', o_custkey::VARCHAR, o_orderpriority,
               round(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN floor((CAST(floor(o_totalprice * 1e7 + 0.5E0)
                               AS BIGINT) * 11 + 5000) / 10000) / 1e4
                          ELSE o_totalprice END, 4)::VARCHAR)) AS h
    FROM orders WHERE o_orderkey % 7 <> 0)
SELECT coalesce(old.k, new.k) AS o_orderkey,
       CASE WHEN old.k IS NULL THEN 'INSERT'
            WHEN new.k IS NULL THEN 'DELETE'
            WHEN old.h <> new.h THEN 'UPDATE' END AS change
FROM old FULL OUTER JOIN new ON old.k = new.k
WHERE old.k IS NULL OR new.k IS NULL OR old.h <> new.h
"""


# --- rolling trend slope (windowed least squares) -----------------------

SLOPE_H = 24   # trailing points per fit

# Least-squares slope over a FIXED trailing window has constant
# x-weights: with x_k = -k (k = 0 newest), slope = sum_k m_k*y_{t-k}
# / (2*D) where m_k = (H-1) - 2k (integers) and D = H(H^2-1)/12.
# Everything stays integer until ONE final division — no quantization
# needed at all.
_SLOPE_M = [(SLOPE_H - 1) - 2 * k for k in range(SLOPE_H)]
_SLOPE_2D = SLOPE_H * (SLOPE_H * SLOPE_H - 1) // 6
_SLOPE_NUM = " + ".join(
    [f"{_SLOPE_M[0]} * xm"]
    + [f"({m}) * lag(xm, {k}, 0) {_EWMA_OVER}"
       for k, m in enumerate(_SLOPE_M) if k > 0])


def q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type trend slope of the hourly series: ordinary least
    squares over the trailing SLOPE_H observed points, emitted once a
    full window exists — the trend feature ahead of forecasting or
    alerting (CUSUM says "something shifted"; this says how fast).
    Slope is per OBSERVED series step; compose with ``q_gap_fill``
    first when calendar-hour slopes are needed.

    Determinism is structural here: fixed x-positions make the fit a
    constant INTEGER combination of the exact micro-unit values
    (weights (H-1)-2k, denominator H(H²-1)/6·1e6), so both engines
    compute identical integers and divide once."""
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.sum(F.floor(F.col("value") * 1e6)).cast("long")
                   .alias("xm")))
    return (hourly.selectExpr(
        "event_type", "hour",
        f"row_number() {_EWMA_OVER} AS rn",
        f"({_SLOPE_NUM}) AS num")
        .filter(F.col("rn") >= SLOPE_H)
        .selectExpr(
            "event_type", "hour",
            f"CAST(floor(CAST(num AS DOUBLE) / {_SLOPE_2D} + 0.5E0) "
            f"AS DOUBLE) / 1e6 AS slope_per_step"))


ORACLE_ROLLING_SLOPE = f"""
WITH ev AS {EVENTS_US},
hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS xm
    FROM ev GROUP BY 1, 2),
fitted AS (
    SELECT event_type, hour,
           row_number() {_EWMA_OVER} AS rn,
           ({_SLOPE_NUM}) AS num
    FROM hourly)
SELECT event_type, hour,
       CAST(floor(CAST(num AS DOUBLE) / {_SLOPE_2D} + 0.5E0) AS DOUBLE)
           / 1e6 AS slope_per_step
FROM fitted WHERE rn >= {SLOPE_H}
"""


# --- Z-order (Morton) clustering layout ----------------------------------

ZORDER_BITS = 8      # per-dimension grid resolution (256 cells)
ZORDER_BLOCKS = 16   # contiguous curve ranges = the layout's files


def _zgrid_sql(col: str, lo: str, hi: str) -> str:
    """Per-row grid coordinate in [0, 2^ZORDER_BITS): scale `col` by
    the corpus min/max with pure-IEEE double ops — text shared verbatim
    by both engines, so bucket boundaries can't diverge. The +1E0
    denominator keeps max below the top cell; LEAST guards the one
    case it can't (a range so wide the +1.0 is rounded away)."""
    n = 1 << ZORDER_BITS
    return (f"least(CAST(floor((CAST({col} AS DOUBLE) - {lo}) * {n}E0 "
            f"/ ({hi} - {lo} + 1E0)) AS BIGINT), {n - 1})")


def _zinterleave_sql(x: str, y: str) -> str:
    """Morton code of two ZORDER_BITS-wide coordinates: bit i of `x`
    lands at position 2i, bit i of `y` at 2i+1. Plain shift/mask
    integer ops — `>>`/`<<`/`&` parse and evaluate identically in
    Spark 4 SQL and DuckDB, so the text is shared. Every term is
    fully parenthesized: shift operators bind LOOSER than `+` in both
    dialects (C precedence), so a bare `a << 4 + b << 6` chain would
    parse as `a << (4 + b) << 6` and overflow."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout audit — the data-layout operator a
    100 TB table needs when scans filter on TWO dimensions: map each
    event's (user_id, epoch-second) onto a Morton curve, cut the curve
    into ZORDER_BLOCKS contiguous ranges (the files a layout rewrite —
    Delta/Iceberg OPTIMIZE ZORDER BY — would produce), and emit each
    block's min/max envelope on BOTH dimensions plus its row count.
    Those envelopes ARE the parquet row-group stats a reader prunes
    on: a linear sort bounds only its leading column, leaving every
    file's envelope spanning the full range of the second dimension,
    while Morton interleaving bounds both at ~1/sqrt(blocks) of their
    range — point/range predicates on EITHER dimension skip most
    blocks (the property `tests/test_storage_skew.py` pins against
    the single-column layout).

    Scale shape: one broadcast min/max aggregate (4 numbers), then the
    grid coordinate, interleave, and block id are all map-side integer
    expressions inside whole-stage codegen; the only shuffle is the
    final per-block aggregate, bounded by ZORDER_BLOCKS groups. A
    production rewrite would repartitionByRange on the same z value
    and write — the audit and the layout share every expression.
    Events without a user_id carry no curve position — gated, like the
    ts scan gate."""
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull())
          .select("user_id", F.col("ts").cast("long").alias("tsec")))
    stats = ev.agg(
        F.min(F.col("user_id").cast("double")).alias("umin"),
        F.max(F.col("user_id").cast("double")).alias("umax"),
        F.min(F.col("tsec").cast("double")).alias("tmin"),
        F.max(F.col("tsec").cast("double")).alias("tmax"))
    # grid coordinates are projected ONCE and the interleave references
    # the projected columns — inlining the grid text into all 16 bit
    # terms would hand codegen (and the oracle's parser) a 16x-expanded
    # expression and bet correctness of the plan size on CSE
    z = _zinterleave_sql("zx", "zy")
    shift = 2 * ZORDER_BITS - ZORDER_BLOCKS.bit_length() + 1
    return (ev.crossJoin(F.broadcast(stats))
            .withColumn("zx", F.expr(_zgrid_sql("user_id", "umin", "umax")))
            .withColumn("zy", F.expr(_zgrid_sql("tsec", "tmin", "tmax")))
            .withColumn("block_id", F.expr(f"({z}) >> {shift}"))
            .groupBy("block_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("user_id").alias("u_min"),
                 F.max("user_id").alias("u_max"),
                 F.min("tsec").alias("t_min"),
                 F.max("tsec").alias("t_max")))


def _zorder_oracle() -> str:
    z = _zinterleave_sql("zx", "zy")
    shift = 2 * ZORDER_BITS - ZORDER_BLOCKS.bit_length() + 1
    return f"""
WITH ev AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
    FROM {EVENTS_US} events WHERE user_id IS NOT NULL),
stats AS (
    SELECT min(CAST(user_id AS DOUBLE)) AS umin,
           max(CAST(user_id AS DOUBLE)) AS umax,
           min(CAST(tsec AS DOUBLE)) AS tmin,
           max(CAST(tsec AS DOUBLE)) AS tmax
    FROM ev),
grid AS (
    SELECT user_id, tsec,
           {_zgrid_sql("user_id", "umin", "umax")} AS zx,
           {_zgrid_sql("tsec", "tmin", "tmax")} AS zy
    FROM ev CROSS JOIN stats)
SELECT ({z}) >> {shift} AS block_id,
       count(*) AS n_rows,
       min(user_id) AS u_min, max(user_id) AS u_max,
       min(tsec) AS t_min, max(tsec) AS t_max
FROM grid
GROUP BY 1
"""


ORACLE_ZORDER_LAYOUT = _zorder_oracle()
