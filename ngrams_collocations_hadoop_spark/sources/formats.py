"""Reference-parity sources and sinks beyond parquet.

Reference mapping (SURVEY.md §2.1):
  S1 SequenceFile scan   → ``read_ngram_sequencefile`` (sc.sequenceFile)
  S4 TSV text scan       → ``read_ngram_tsv`` / ``read_tsv`` with
                           try_cast semantics (malformed rows silently
                           dropped, like the reference's parse guards
                           Job1.java:126-137)
  S6 multi-sink          → ``write_multi_sink`` (N outputs off one
                           cached subplan — MultipleOutputs equivalent)
  S7 TSV text sink       → ``write_tsv``

The Google N-Grams record format is ``ngram \\t year \\t occurrences
[\\t pages \\t books]`` (reference Job1.java:126-137 for unigrams,
:166-181 for bigrams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _parse_ngram_lines(lines: DataFrame, value_col: str) -> DataFrame:
    """TSV line → (ngram, year, occurrences) with the reference's
    silent-drop semantics: short rows, unparseable numbers, and
    occ <= 0 are filtered, not errors."""
    # get() (not [i]): ANSI mode errors on out-of-bounds subscripts, but
    # short rows must silently drop, per the reference's parse guards.
    return (
        lines
        .select(
            F.expr(f"get(split({value_col}, '\t'), 0)").alias("ngram"),
            F.expr(f"try_cast(get(split({value_col}, '\t'), 1) AS INT)")
            .alias("year"),
            F.expr(f"try_cast(get(split({value_col}, '\t'), 2) AS BIGINT)")
            .alias("occurrences"),
        )
        .filter(F.col("ngram").isNotNull() & (F.col("ngram") != "")
                & F.col("year").isNotNull()
                & F.col("occurrences").isNotNull()
                & (F.col("occurrences") > 0))
    )


def read_ngram_tsv(spark: SparkSession, path: str, lang: str) -> DataFrame:
    """S4: text scan of `ngram\\tyear\\toccurrences` lines, tagged with a
    language column (replacing the reference's path-based inference,
    NGramUtils.java:51-79 — per-source lit() is the Spark-first form)."""
    lines = spark.read.text(path)
    return (_parse_ngram_lines(lines, "value")
            .withColumn("lang", F.lit(lang))
            .select("lang", "ngram", "year", "occurrences"))


def read_ngram_sequencefile(spark: SparkSession, path: str,
                            lang: str) -> DataFrame:
    """S1: Hadoop SequenceFile of (LongWritable, Text) records — the
    reference's actual input format (CollocationExtraction3Jobs.java:
    68-71). The RDD hop is confined to deserialization; everything
    after is a DataFrame.

    PARITY/TEST PATH ONLY at scale: ``rdd.map`` routes every record
    through a Python worker — at the reference's 2.19B-record EN corpus
    that per-row hop is the ingest bottleneck. The 100 TB story is
    ``convert_sequencefile_to_parquet`` below: pay the hop ONCE in a
    conversion job, then every query reads parquet (columnar, split-
    table, predicate-pushdown) with zero Python per row."""
    rdd = spark.sparkContext.sequenceFile(
        path, "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text")
    lines = spark.createDataFrame(
        rdd.map(lambda kv: (kv[1],)),
        T.StructType([T.StructField("value", T.StringType())]))
    return (_parse_ngram_lines(lines, "value")
            .withColumn("lang", F.lit(lang))
            .select("lang", "ngram", "year", "occurrences"))


def convert_sequencefile_to_parquet(spark: SparkSession, path: str,
                                    out: str, lang: str) -> DataFrame:
    """One-time SequenceFile → parquet ingest conversion, and the only
    place the per-record Python deserialization hop is allowed to run.
    Parses with the same silent-drop semantics as the direct reader, so
    downstream pipelines see identical records whichever path fed them.

    Returns the (parquet-backed) DataFrame of the converted records.
    At 100 TB run this once per corpus drop; the conversion is a single
    map-only pass (no shuffle), bounded by the Python worker throughput
    — after it, all query I/O is JVM-side columnar scans."""
    read_ngram_sequencefile(spark, path, lang) \
        .write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def multi_source_union(sources: list[DataFrame]) -> DataFrame:
    """S2: MultipleInputs equivalent — per-source DataFrames (each
    already tagged with its language) unioned by name."""
    out = sources[0]
    for s in sources[1:]:
        out = out.unionByName(s)
    return out


def write_tsv(df: DataFrame, path: str) -> None:
    """S7: TSV text sink."""
    df.write.mode("overwrite").option("sep", "\t").csv(path)


def read_tsv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("sep", "\t").csv(path)


DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSONL sink — the interchange format most web-scale text corpora
    (Common Crawl derivatives, chat logs) arrive in."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType = DOCUMENTS_SCHEMA) -> DataFrame:
    """JSONL source with an EXPLICIT schema — schema inference would
    scan the corpus twice, which at 100 TB doubles the most expensive
    stage. Malformed lines drop silently (PERMISSIVE + corrupt-record
    filter disabled by dropping the column), matching the engine's TSV
    silent-drop semantics."""
    return spark.read.schema(schema).json(path)


def write_multi_sink(df: DataFrame, sinks: dict[str, tuple]) -> None:
    """S6: MultipleOutputs equivalent — fan a single (cached) subplan
    into several sinks. ``sinks`` maps path → (transform_fn, format).
    The cache guarantees the shared subtree computes once, mirroring
    the reference's single reducer emitting DATA + N
    (Job1.java:262,291,299,310)."""
    df = df.persist()
    try:
        df.count()  # materialize once
        for path, (transform, fmt) in sinks.items():
            out = transform(df)
            if fmt == "tsv":
                write_tsv(out, path)
            elif fmt == "parquet":
                out.write.mode("overwrite").parquet(path)
            else:
                raise ValueError(f"unknown sink format {fmt}")
    finally:
        df.unpersist()


def write_csv(df: DataFrame, path: str) -> None:
    """Quoted, headered CSV sink (RFC-4180-style quoting — the
    interchange format the TSV sink's quote-free contract can't carry:
    embedded delimiters/newlines round-trip via quotes + escaping)."""
    (df.write.mode("overwrite")
     .option("header", "true").option("quote", '"').option("escape", '"')
     .csv(path))


def read_csv(spark: SparkSession, path: str,
             schema: T.StructType) -> DataFrame:
    """Schema'd CSV scan matching write_csv; malformed lines drop
    silently (mode=DROPMALFORMED), the same silent-drop contract as
    the TSV/JSONL readers (reference: parse failures skip the
    record).

    multiLine=true so quoted embedded newlines round-trip — which
    makes each FILE the split unit (a record may span line breaks, so
    Spark cannot chunk by byte ranges). At 100 TB that means
    parallelism = file count: keep CSV files small-ish, or avoid
    embedded newlines and flip this off to get byte-range splits."""
    return (spark.read.schema(schema)
            .option("header", "true").option("quote", '"')
            .option("escape", '"').option("mode", "DROPMALFORMED")
            .option("multiLine", "true")
            .csv(path))


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — the other columnar interchange format large Hadoop
    estates standardize on (Hive-lineage warehouses); built into Spark,
    same predicate-pushdown/column-pruning contract as parquet."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan. ORC files embed their schema (no inference pass), and
    Spark's reader pushes filters and prunes columns exactly as for
    parquet — `tests/test_sources.py` pins the round-trip and that a
    filtered read reaches the ORC scan as a pushed filter."""
    return spark.read.orc(path)
