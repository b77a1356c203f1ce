"""Storage layout (partition pruning, bucketed shuffle-free joins) and
skew-mitigation (salted join) guarantees."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ngrams_collocations_hadoop_spark.operators.skew import salted_join
from ngrams_collocations_hadoop_spark.plans.checks import physical_plan
from ngrams_collocations_hadoop_spark.sources.storage import (
    write_bucketed, write_partitioned,
)
from ngrams_collocations_hadoop_spark.sources.tables import load_table

from .conftest import SF_SMALL


def test_partition_pruning(spark):
    d = tempfile.mkdtemp(prefix="part_") + "/docs"
    docs = load_table(spark, SF_SMALL, "documents")
    write_partitioned(docs, d, ["lang"])

    filtered = spark.read.parquet(d).filter(F.col("lang") == "en")
    plan = physical_plan(filtered)
    # the lang predicate must prune at the partition level, not scan+filter
    assert "PartitionFilters: [isnotnull(lang" in plan \
        or "PartitionFilters: [" in plan and "lang" in plan.split(
            "PartitionFilters:")[1].split("]")[0]
    # correctness: partition column round-trips
    assert filtered.count() == docs.filter(F.col("lang") == "en").count()


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the join key must join with zero
    exchanges — the reference's hand-built co-partitioning, persisted."""
    o = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    write_bucketed(o.select("o_orderkey", "o_totalprice"),
                   "b_orders", ["o_orderkey"], 8)
    write_bucketed(li.select("l_orderkey", "l_quantity"),
                   "b_lineitem", ["l_orderkey"], 8)
    j = spark.table("b_orders").join(
        spark.table("b_lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"))
    plan = physical_plan(j)
    assert "Exchange hashpartitioning" not in plan, plan
    assert j.count() == li.count()  # every lineitem has its order


def test_salted_join_equals_plain_join(spark):
    large = load_table(spark, SF_SMALL, "lineitem") \
        .select("l_orderkey", "l_quantity", "l_linenumber")
    small = load_table(spark, SF_SMALL, "orders") \
        .select("o_orderkey", "o_totalprice") \
        .withColumnRenamed("o_orderkey", "l_orderkey")
    plain = large.join(small, on="l_orderkey").orderBy(
        "l_orderkey", "l_linenumber")
    salted = salted_join(large, small, ["l_orderkey"], n_salt=8).orderBy(
        "l_orderkey", "l_linenumber")
    assert [tuple(r) for r in plain.collect()] == \
           [tuple(r) for r in salted.collect()]


def test_bloom_prefilter_no_false_negatives_and_selective(spark):
    """The bloom stage must pass EVERY true match (no false negatives —
    otherwise the semi-join result would silently shrink) while
    rejecting the bulk of non-matching probe rows map-side."""
    from ngrams_collocations_hadoop_spark.operators.skew import (
        BLOOM_M, BLOOM_SEEDS, bloom_bitmap, bloom_prefilter_semi_join,
    )

    li = load_table(spark, SF_SMALL, "lineitem") \
        .withColumnRenamed("l_orderkey", "k")
    urgent = load_table(spark, SF_SMALL, "orders") \
        .filter(F.col("o_orderpriority") == "1-URGENT") \
        .select(F.col("o_orderkey").alias("k"))

    exact = li.join(urgent.distinct(), "k", "left_semi")
    via_bloom = bloom_prefilter_semi_join(li, "k", urgent, "k")
    assert via_bloom.count() == exact.count()

    # survivors of the bloom stage alone: superset of matches, far
    # smaller than the probe (the whole point of the prefilter)
    bm = bloom_bitmap(urgent, "k")
    cond = None
    for s in BLOOM_SEEDS:
        c = (F.expr(
            f"shiftright(element_at(bloom, CAST(pmod(xxhash64(k, {s}), "
            f"{BLOOM_M}) / 64 AS INT) + 1), "
            f"CAST(pmod(xxhash64(k, {s}), {BLOOM_M}) % 64 AS INT))")
            .bitwiseAND(F.lit(1)) == 1)
        cond = c if cond is None else cond & c
    n_probe = li.count()
    n_exact = exact.count()
    n_surv = li.crossJoin(F.broadcast(bm)).filter(cond).count()
    assert n_exact <= n_surv < n_probe // 2, (n_exact, n_surv, n_probe)


def test_sketch_reagg_union_counts_union_not_sum(spark, tmp_path):
    """Two days with HEAVILY overlapping user sets: the sketch union
    must estimate |A ∪ B| (~120), not |A| + |B| (200) — a double-
    counting merge bug clears the rsd bound on neither column."""
    import datetime

    import pandas as pd

    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_sketch_reagg,
    )

    rows = []
    eid = 0
    for day, users in ((1, range(0, 100)), (2, range(20, 120))):
        for u in users:
            rows.append((eid, datetime.datetime(2024, 5, day, 12), u,
                         "t", 1.0, "{}"))
            eid += 1
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]).to_parquet(f"{sf}/events.parquet", index=False)

    out = q_sketch_reagg(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 2 and r.exact_users == 120
    assert r.reagg_within_rsd and r.direct_within_rsd
    assert r.reagg_close_to_direct


def test_cusum_flags_injected_level_shift(spark, tmp_path):
    """A flat series with a sustained level shift in its second half
    must alarm after the shift and never before it — and the
    prefix-sum formulation must equal the sequential recursion
    S_t = max(0, S_{t-1} + dev_t) computed in plain Python."""
    import datetime

    import pandas as pd

    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_cusum,
    )

    t0 = datetime.datetime(2024, 1, 1)
    vals = [100.0 + (i % 3) for i in range(48)] + \
           [160.0 + (i % 3) for i in range(48)]
    rows = [(i, t0 + datetime.timedelta(hours=i), 1, "t", v, "{}")
            for i, v in enumerate(vals)]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]).to_parquet(f"{sf}/events.parquet", index=False)

    out = sorted(q_cusum(spark, sf).collect(), key=lambda r: r.hour)
    first_alarm = next(i for i, r in enumerate(out) if r.alarm)
    assert first_alarm >= 48, first_alarm      # never before the shift
    assert any(r.alarm for r in out[48:])      # fires after it

    # sequential-recursion equivalence
    import math

    xm = [int(v * 1000) for v in vals]
    n = len(xm)
    mu = math.floor(sum(xm) / n)
    sd = math.floor(math.sqrt((sum(x * x for x in xm)
                               - sum(xm) ** 2 / n) / n))
    s_seq, seq = 0, []
    for x in xm:
        s_seq = max(0, s_seq + (x - mu - sd // 2))
        seq.append(round(s_seq / 1000.0, 6))
    assert [r.cusum for r in out] == seq


def test_retention_cohorts_two_cohort_fixture(spark, tmp_path):
    """Two cohorts a week apart: users 1-2 start week 0 (user 2 churns
    after week 0), user 3 starts week 1. Matrix must show cohort A
    retaining 1/2 in its week 1 and cohort B fully active at offset
    0 — offsets are cohort-relative, not calendar."""
    import datetime

    import pandas as pd

    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_retention_cohorts,
    )

    mon = datetime.datetime(2024, 1, 1)      # a Monday
    wk = datetime.timedelta(days=7)
    rows = [
        (1, mon, 1, "t", 1.0, "{}"),
        (2, mon + datetime.timedelta(days=1), 2, "t", 1.0, "{}"),
        (3, mon + wk, 1, "t", 1.0, "{}"),             # user 1 returns
        (4, mon + wk + datetime.timedelta(days=2), 3, "t", 1.0, "{}"),
    ]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]).to_parquet(f"{sf}/events.parquet", index=False)

    out = {(r.cohort_week.date().isoformat(), r.week_offset):
           (r.active_users, r.cohort_size, r.retention)
           for r in q_retention_cohorts(spark, sf).collect()}
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 2, 0.5)
    assert out[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(out) == 3


def test_sliding_distinct_counts_window_union(spark, tmp_path):
    """Three hours of activity: user A in h0 and h2, user B in h1.
    With a 24h trailing window every active hour sees the union of all
    users so far; a repeat visit (A in h2) must NOT double count."""
    import datetime

    import pandas as pd

    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_sliding_distinct,
    )

    t0 = datetime.datetime(2024, 4, 1, 0, 30)
    hr = datetime.timedelta(hours=1)
    rows = [(1, t0, 10, "t", 1.0, "{}"),
            (2, t0 + hr, 20, "t", 1.0, "{}"),
            (3, t0 + 2 * hr, 10, "t", 1.0, "{}")]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]).to_parquet(f"{sf}/events.parquet", index=False)

    out = sorted((r.hour, r.distinct_users_24h)
                 for r in q_sliding_distinct(spark, sf).collect())
    assert [n for _, n in out] == [1, 2, 2]


def test_rolling_slope_recovers_linear_trend(spark, tmp_path):
    """A perfectly linear hourly series (value = 5 + 0.25*t) must
    yield slope exactly 0.25 at every full-window point, and no rows
    before the window fills."""
    import datetime

    import pandas as pd

    from ngrams_collocations_hadoop_spark.operators.relational import (
        SLOPE_H, q_rolling_slope,
    )

    t0 = datetime.datetime(2024, 2, 1)
    rows = [(i, t0 + datetime.timedelta(hours=i), 1, "t",
             5.0 + 0.25 * i, "{}") for i in range(SLOPE_H + 6)]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]).to_parquet(f"{sf}/events.parquet", index=False)

    out = q_rolling_slope(spark, sf).collect()
    assert len(out) == 7   # rows SLOPE_H .. SLOPE_H+6
    assert all(r.slope_per_step == 0.25 for r in out), out


def test_corr_stats_matches_native_aggregates_with_null_uids(spark,
                                                             tmp_path):
    """q_corr_stats must implement the NATIVE aggregates' NULL
    semantics on a corpus with NULL user_ids: var/stddev(v) over every
    measured row, corr/covar over complete (value, user_id) pairs
    only. The DuckDB oracle mirrors the moment formulas, so it cannot
    catch a shared semantic error — this pins against F.corr/F.covar/
    F.var themselves (atol: Welford vs exact moments differ in low
    bits, which is WHY the query uses moments)."""
    import datetime

    import pandas as pd
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_corr_stats,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # one group; every third row has a NULL user_id, values vary
    rows = [(i, t0 + datetime.timedelta(minutes=i),
             None if i % 3 == 0 else (i * 7) % 23,
             "t", float(i % 11) + i * 0.01, "{}")
            for i in range(60)]
    sf = str(tmp_path)
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    pdf.to_parquet(f"{sf}/events.parquet", index=False)

    got = q_corr_stats(spark, sf).collect()[0]
    ref = (spark.read.parquet(f"{sf}/events.parquet")
           .agg(F.corr("value", "user_id").alias("corr_vu"),
                F.covar_pop("value", "user_id").alias("covar_pop_vu"),
                F.covar_samp("value", "user_id").alias("covar_samp_vu"),
                F.stddev_pop("value").alias("stddev_pop_v"),
                F.stddev_samp("value").alias("stddev_samp_v"),
                F.var_pop("value").alias("var_pop_v"),
                F.var_samp("value").alias("var_samp_v"))
           .collect()[0])
    for c in ("corr_vu", "covar_pop_vu", "covar_samp_vu",
              "stddev_pop_v", "stddev_samp_v", "var_pop_v",
              "var_samp_v"):
        assert abs(got[c] - ref[c]) < 1e-5, (c, got[c], ref[c])


def test_zorder_layout_bounds_both_dimensions(spark):
    """The Morton layout's pruning property, pinned against the
    single-column alternative: each of the 16 blocks is a 64x64 tile
    of the 256x256 grid, so its min/max envelope spans at most 1/4 of
    the corpus range (+1 cell of in-cell spread) on BOTH dimensions —
    while a sort by user_id leaves each file's ts envelope spanning
    ~the full range (measured 0.94 mean on the fixture). That
    envelope gap is exactly what a two-predicate scan prunes on.
    Also: dense block ids within [0, ZORDER_BLOCKS) and row counts
    summing to the gated scan count (the layout loses no rows)."""
    from pyspark.sql import Window

    from ngrams_collocations_hadoop_spark.operators import relational as rel

    rows = rel.q_zorder_layout(spark, SF_SMALL).collect()
    ev = (rel._t(spark, SF_SMALL, "events")
          .filter(F.col("user_id").isNotNull())
          .select("user_id", F.col("ts").cast("long").alias("tsec")))
    st = ev.agg(F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
                F.min("tsec").alias("tmin"), F.max("tsec").alias("tmax"),
                F.count(F.lit(1)).alias("n")).collect()[0]
    du, dt = max(st.umax - st.umin, 1), max(st.tmax - st.tmin, 1)

    assert sum(r.n_rows for r in rows) == st.n
    assert all(0 <= r.block_id < rel.ZORDER_BLOCKS for r in rows)
    # structural tile bound: 1/4 of the range + one grid cell
    tile = 0.25 + 1.0 / (1 << rel.ZORDER_BITS) + 1e-9
    z_u = max((r.u_max - r.u_min) / du for r in rows)
    z_t = max((r.t_max - r.t_min) / dt for r in rows)
    assert z_u <= tile and z_t <= tile, (z_u, z_t)

    lin = (ev.withColumn("b", F.ntile(rel.ZORDER_BLOCKS)
                         .over(Window.orderBy("user_id")))
           .groupBy("b").agg(F.min("tsec").alias("a"),
                             F.max("tsec").alias("z")).collect())
    lin_t = sum((r.z - r.a) / dt for r in lin) / len(lin)
    assert lin_t > 2 * z_t, (lin_t, z_t)


def test_write_zordered_footers_carry_tile_bounded_stats(spark, tmp_path):
    """The physical rewrite must make the audit's envelopes REAL: after
    write_zordered, every parquet file's footer min/max statistics for
    BOTH layout columns span at most one Morton tile (1/4 of the
    corpus range + one grid cell) — i.e. the stats any pruning reader
    consumes now bound both dimensions, which no single-column sort
    write can produce. Also: block-aligned directories, no row loss."""
    import pyarrow.parquet as papq

    from ngrams_collocations_hadoop_spark.operators import relational as rel
    from ngrams_collocations_hadoop_spark.sources.storage import (
        write_zordered)

    ev = (rel._t(spark, SF_SMALL, "events")
          .filter(F.col("user_id").isNotNull())
          .select("user_id", F.col("ts").cast("long").alias("tsec")))
    st = ev.agg(F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
                F.min("tsec").alias("tmin"), F.max("tsec").alias("tmax"),
                F.count(F.lit(1)).alias("n")).collect()[0]
    du, dt = max(st.umax - st.umin, 1), max(st.tmax - st.tmin, 1)

    out = str(tmp_path / "zorder")
    import pytest
    with pytest.raises(ValueError):   # shift-cut ranges need 2^k blocks
        write_zordered(ev, out, "user_id", "tsec", n_blocks=12)
    write_zordered(ev, out, "user_id", "tsec")

    import glob
    files = glob.glob(f"{out}/z_block=*/*.parquet")
    assert len(files) == len(glob.glob(f"{out}/z_block=*")) \
        and len(files) >= 8, files   # one file per written block
    tile = 0.25 + 1.0 / (1 << rel.ZORDER_BITS) + 1e-9
    total = 0
    for f in files:
        md = papq.ParquetFile(f).metadata
        total += md.num_rows
        lo = {"user_id": None, "tsec": None}
        hi = {"user_id": None, "tsec": None}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        assert lo["user_id"] is not None and lo["tsec"] is not None, f
        assert (hi["user_id"] - lo["user_id"]) / du <= tile, f
        assert (hi["tsec"] - lo["tsec"]) / dt <= tile, f
    assert total == st.n


def test_mrl_prefix_layout_prunes_the_scan(spark, tmp_path):
    """The Matryoshka layout claim, materialized: after
    write_mrl_prefixed, a first-pass query selecting only
    (vec_id, emb_prefix) must show a ReadSchema WITHOUT the full
    embedding column (column pruning reached the parquet scan), and
    the prefix column's values must equal slice(embedding, 1,
    MRL_DIM) of the full vector that rides alongside."""
    from ngrams_collocations_hadoop_spark.operators.similarity import (
        MRL_DIM)
    from ngrams_collocations_hadoop_spark.plans.checks import physical_plan
    from ngrams_collocations_hadoop_spark.sources.storage import (
        write_mrl_prefixed)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    out = str(tmp_path / "mrl")
    write_mrl_prefixed(emb, out)

    back = spark.read.parquet(out)
    plan = physical_plan(back.select("vec_id", "emb_prefix"))
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "emb_prefix" in rs and "embedding" not in rs, rs

    chk = back.selectExpr(
        "count(*) AS n",
        f"sum(CASE WHEN emb_prefix IS NULL AND embedding IS NULL THEN 0 "
        f"WHEN emb_prefix = slice(embedding, 1, {MRL_DIM}) THEN 0 "
        f"ELSE 1 END) AS bad").collect()[0]
    assert chk.n > 0 and chk.bad == 0, chk
