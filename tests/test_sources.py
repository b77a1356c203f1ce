"""Reference-parity sources/sinks (SURVEY.md §2.1): SequenceFile scan,
TSV ngram scan with silent-drop semantics, multi-source union,
multi-sink fan-out, TSV round-trip."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ngrams_collocations_hadoop_spark.sources.formats import (
    multi_source_union, read_ngram_sequencefile, read_ngram_tsv, read_tsv,
    write_multi_sink, write_tsv,
)

from .conftest import SF_SMALL

LINES = [
    "high school\t1995\t42",
    "bad row",                       # short → dropped
    "word\tnot_a_year\t7",           # unparseable year → dropped
    "word\t1990\t0",                 # occ <= 0 → dropped
    "word\t1990\t-3",                # occ < 0 → dropped
    "שלום עולם\t2001\t5",            # unicode ok
    "tab\t2003\t9\textra\tfields",   # extra fields tolerated (pages/books)
]
EXPECTED = {("high school", 1995, 42), ("שלום עולם", 2001, 5),
            ("tab", 2003, 9)}


def test_read_ngram_tsv_silent_drop(spark):
    d = tempfile.mkdtemp(prefix="tsv_src_")
    with open(f"{d}/part-00000", "w") as f:
        f.write("\n".join(LINES))
    df = read_ngram_tsv(spark, d, lang="en")
    got = {(r["ngram"], r["year"], r["occurrences"]) for r in df.collect()}
    assert got == EXPECTED
    assert df.columns == ["lang", "ngram", "year", "occurrences"]


def test_read_ngram_sequencefile_roundtrip(spark):
    d = tempfile.mkdtemp(prefix="seq_src_") + "/seq"
    rdd = spark.sparkContext.parallelize(
        [(i, line) for i, line in enumerate(LINES)], 1)
    rdd.saveAsSequenceFile(d)
    df = read_ngram_sequencefile(spark, d, lang="he")
    got = {(r["ngram"], r["year"], r["occurrences"]) for r in df.collect()}
    assert got == EXPECTED
    assert df.first()["lang"] == "he"


def test_multi_source_union(spark):
    d = tempfile.mkdtemp(prefix="multi_src_")
    with open(f"{d}/en.tsv", "w") as f:
        f.write("hello\t2000\t3")
    with open(f"{d}/he.tsv", "w") as f:
        f.write("שלום\t2000\t4")
    en = read_ngram_tsv(spark, f"{d}/en.tsv", lang="en")
    he = read_ngram_tsv(spark, f"{d}/he.tsv", lang="he")
    u = multi_source_union([en, he])
    got = {(r["lang"], r["ngram"]) for r in u.collect()}
    assert got == {("en", "hello"), ("he", "שלום")}


def test_tsv_roundtrip_and_multi_sink(spark):
    d = tempfile.mkdtemp(prefix="sink_")
    df = spark.createDataFrame(
        [("en", 2000, "apple", 15), ("en", 2000, "pie", 8)],
        ["lang", "decade", "word", "c1"])
    # S6: DATA + aggregated N from one cached subplan
    write_multi_sink(df, {
        f"{d}/data": (lambda x: x, "tsv"),
        f"{d}/n": (lambda x: x.groupBy("lang", "decade")
                   .agg(F.sum("c1").alias("n_total")), "parquet"),
    })
    schema = T.StructType([
        T.StructField("lang", T.StringType()),
        T.StructField("decade", T.IntegerType()),
        T.StructField("word", T.StringType()),
        T.StructField("c1", T.LongType()),
    ])
    back = read_tsv(spark, f"{d}/data", schema)
    assert {(r["word"], r["c1"]) for r in back.collect()} == {
        ("apple", 15), ("pie", 8)}
    n = spark.read.parquet(f"{d}/n").collect()
    assert len(n) == 1 and n[0]["n_total"] == 23

    # S7 standalone round-trip
    write_tsv(back, f"{d}/rt")
    again = read_tsv(spark, f"{d}/rt", schema)
    assert again.count() == 2


def test_jsonl_roundtrip_and_silent_drop(spark):
    from ngrams_collocations_hadoop_spark.sources.formats import (
        read_jsonl, write_jsonl)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="jsonl_")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    write_jsonl(docs, f"{d}/docs")
    back = read_jsonl(spark, f"{d}/docs")
    assert back.schema == docs.schema
    assert (sorted(r["doc_id"] for r in back.select("doc_id").collect())
            == sorted(r["doc_id"] for r in docs.select("doc_id").collect()))

    # malformed line → silently dropped (all-null row filtered by Spark's
    # PERMISSIVE mode only when the whole line is unparseable JSON)
    with open(f"{d}/docs/zz_corrupt.json", "w") as f:
        f.write('{"doc_id": 999999, "text": "ok extra"}\n')
        f.write("not json at all\n")
    back2 = read_jsonl(spark, f"{d}/docs")
    good = back2.filter(F.col("doc_id").isNotNull())
    assert good.count() == docs.count() + 1


def test_compact_files(spark):
    import glob

    from ngrams_collocations_hadoop_spark.sources.storage import compact_files
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="compact_")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.repartition(40).write.parquet(f"{d}/shredded")
    assert len(glob.glob(f"{d}/shredded/part-*.parquet")) == 40

    n_out = compact_files(spark, f"{d}/shredded", f"{d}/compacted")
    assert n_out == 1  # tiny corpus fits one target-size file
    assert len(glob.glob(f"{d}/compacted/part-*.parquet")) == 1
    assert (spark.read.parquet(f"{d}/compacted").count() == docs.count())


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC sink/source round-trip; the filter must reach the ORC scan
    as a pushed-down predicate, same as parquet."""
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.plans.checks import physical_plan
    from ngrams_collocations_hadoop_spark.sources.formats import (
        read_orc, write_orc,
    )
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs.select("doc_id", "lang", "n_chars"), path)
    back = read_orc(spark, path).filter(F.col("lang") == "en")
    assert back.count() == docs.filter(F.col("lang") == "en").count()
    plan = physical_plan(back)
    assert "PushedFilters: [" in plan and "lang" in plan.split(
        "PushedFilters:")[1].split("]")[0]


def test_csv_roundtrip_quoting_and_silent_drop(spark):
    from ngrams_collocations_hadoop_spark.sources.formats import (
        read_csv, write_csv)

    d = tempfile.mkdtemp(prefix="csv_")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ])
    rows = [(1, 'plain', 0.5),
            (2, 'comma, inside', 1.5),
            (3, 'quote " inside', 2.5),
            (4, 'newline\ninside', 3.5)]
    df = spark.createDataFrame(rows, schema)
    write_csv(df, f"{d}/t")
    back = read_csv(spark, f"{d}/t", schema)
    # embedded delimiter/quote/newline all survive the round trip
    assert sorted((r["id"], r["text"], r["score"])
                  for r in back.collect()) == sorted(rows)

    # a malformed line (wrong arity, unparseable number) drops silently
    with open(f"{d}/t/zz_extra.csv", "w") as f:
        f.write("id,text,score\n")
        f.write('9,ok,4.5\n')
        f.write('not-a-number,bad,xx,extra,fields\n')
    back2 = read_csv(spark, f"{d}/t", schema)
    assert sorted(r["id"] for r in back2.collect()) == [1, 2, 3, 4, 9]


def test_convert_sequencefile_to_parquet(spark):
    from ngrams_collocations_hadoop_spark.sources.formats import (
        convert_sequencefile_to_parquet,
    )
    base = tempfile.mkdtemp(prefix="seq_conv_")
    rdd = spark.sparkContext.parallelize(
        [(i, line) for i, line in enumerate(LINES)], 1)
    rdd.saveAsSequenceFile(base + "/seq")
    out = convert_sequencefile_to_parquet(
        spark, base + "/seq", base + "/pq", lang="en")
    got = {(r["ngram"], r["year"], r["occurrences"]) for r in out.collect()}
    assert got == EXPECTED
    # the parquet output is the direct reader's records, verbatim
    direct = read_ngram_sequencefile(spark, base + "/seq", "en")
    assert sorted(out.collect()) == sorted(direct.collect())


def test_footer_unit_guard_rejects_unannotated_int64(spark):
    """An int64 column named like a timestamp but with NO parquet
    logical-type annotation must fail loudly, not be silently treated
    as nanos (ADVICE.md)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest
    from ngrams_collocations_hadoop_spark.sources.tables import (
        normalize_timestamps,
    )
    base = tempfile.mkdtemp(prefix="ts_guard_")
    p = base + "/events.parquet"
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64()),
                             "ts": pa.array([1_000_000, 2_000_000],
                                            pa.int64())}), p)
    df = spark.read.parquet(p)
    with _pytest.raises(Exception, match="refusing to guess"):
        normalize_timestamps(df, p).schema


def test_footer_unit_guard_scales_micros(spark):
    """An int64 micros-annotated timestamp read as long must be scaled
    by the footer unit (x1), not the nanos default (div 1000)."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ngrams_collocations_hadoop_spark.sources.tables import (
        _footer_ts_unit,
    )
    base = tempfile.mkdtemp(prefix="ts_micros_")
    p = base + "/t.parquet"
    micros = 1_700_000_000 * 1_000_000
    pq.write_table(
        pa.table({"ts": pa.array([micros], pa.timestamp("us"))}), p)
    assert _footer_ts_unit(p, "ts") == "us"
    # and the ns-annotated fixture path still reports ns
    assert _footer_ts_unit(
        SF_SMALL + "/events.parquet", "ts") in ("ns", "us", "ms")


def test_footer_unit_reread_after_in_place_rewrite(tmp_path):
    """A file rewritten in place at the same path with another
    timestamp unit must report the NEW unit: a reader keyed on the
    path alone would keep the old divisor and mis-scale every value
    1000x."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ngrams_collocations_hadoop_spark.sources.tables import (
        _footer_ts_unit,
    )
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("us"))}), p)
    assert _footer_ts_unit(p, "ts") == "us"
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("ms"))}), p)
    assert _footer_ts_unit(p, "ts") == "ms"


def test_orc_roundtrip_and_pushdown(spark):
    """ORC round-trip: schema and rows survive, and a filtered read
    reaches the ORC scan as a pushed filter (the same contract the
    parquet path relies on — pinned so a format regression can't
    silently disable pruning)."""
    from ngrams_collocations_hadoop_spark.plans.checks import physical_plan
    from ngrams_collocations_hadoop_spark.sources.formats import (
        read_orc, write_orc)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    d = tempfile.mkdtemp(prefix="orc_")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    write_orc(docs, f"{d}/docs")
    back = read_orc(spark, f"{d}/docs")
    assert back.schema == docs.schema
    assert (sorted(r["doc_id"] for r in back.select("doc_id").collect())
            == sorted(r["doc_id"] for r in docs.select("doc_id").collect()))

    plan = physical_plan(back.filter(F.col("doc_id") == 7)
                         .select("doc_id", "lang"))
    assert "PushedFilters: [" in plan and "doc_id" in plan.split(
        "PushedFilters:")[1][:120], plan
