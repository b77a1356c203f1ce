"""Parquet loaders for the driver-generated star schema (TESTDATA.md) and
the broadcast-style side tables (stopwords).

Reference mapping: the reference's `MultipleInputs` SequenceFile scans
(`CollocationExtraction3Jobs.java:68-71`) become plain `spark.read`
calls; the distributed-cache stopword files (`Stopwords.java:23-43`)
become `constants.STOPWORDS`, exposed here as a tiny DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import stopword_values_sql
from ..plans.cache import StateCache

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Queries may run under a caller-built SparkSession (the driver's
    harness) without our session.py defaults. These two are required
    for CORRECTNESS, not speed, and are dynamic SQL confs — set them
    defensively: nanos timestamps would otherwise fail to read, and a
    non-UTC session timezone would shift timestamp values relative to
    the (UTC-naive) DuckDB oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy downstream map stage uses every core.

    A small parquet input (one file, one row group) scans as a single
    partition, which would serialize expensive per-row work (regex,
    explode, 64-way hashing). On a real cluster the input has thousands
    of splits and this is a no-op; locally it round-robins the (cheap,
    compressed) rows once before the expensive map work.

    The split-count probe uses ``df.inputFiles()`` — pure catalog/file
    metadata, no plan-to-RDD conversion (``df.rdd.getNumPartitions()``
    would build and translate the whole physical plan just to read a
    number). Scan partitions ≥ input files (large files split further),
    so "many files" is a sufficient no-op condition; a non-file-backed
    DataFrame (no inputFiles) conservatively fans out.
    """
    width = fan_out_width(df)
    return df.repartition(width) if width else df


def fan_out_width(df: DataFrame) -> int:
    """The round-robin width ``fan_out`` gives ``df`` (the cluster's
    parallelism), or 0 where it leaves ``df`` as it is."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_inputs = len(df.inputFiles())
    except Exception:
        n_inputs = 0
    return target if n_inputs < target else 0


def _footer_ts_unit(path: str, col: str) -> str:
    """The parquet footer's logical-type unit ('ns'/'us'/'ms'/'s') for a
    timestamp column that Spark surfaced as a raw int64. Footer-only
    read (pyarrow, well under a millisecond) — no Spark job. Read on
    every call, not cached: a file rewritten in place at the same path
    may carry another unit. A plain unannotated INT64 under a
    timestamp column name raises instead of being silently mis-scaled
    (it has no declared unit to trust)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    f = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise ValueError(f"no parquet files under {path}")
        f = parts[0]
    t = pq.read_schema(f).field(col).type
    if pa.types.is_timestamp(t):
        return t.unit
    raise ValueError(
        f"column {col!r} in {path} is {t}, not an annotated parquet "
        f"TIMESTAMP — refusing to guess an epoch unit for a raw int64")


def normalize_timestamps(df: DataFrame, path: str | None = None) -> DataFrame:
    """Normalize fixture timestamp columns to TimestampType (LTZ, with
    the session pinned to UTC) regardless of how the parquet writer
    encoded them. The driver has shipped two encodings across rounds:

    - TIMESTAMP(NANOS), surfaced as int64 nanos via
      ``spark.sql.legacy.parquet.nanosAsLong`` → convert with integer
      division (ns → µs): a double division would lose precision at
      1.7e18 ns, and DuckDB's ns→µs cast truncates identically.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ; cast to
      LTZ (a value-preserving reinterpretation under the UTC session
      timezone) so every downstream operator — watermarks, windows,
      unix_timestamp — sees one type either way.

    A LongType timestamp column is NOT assumed to be nanos: when the
    source ``path`` is known, the parquet footer's logical-type
    annotation picks the divisor (ns/µs/ms/s), and an unannotated
    int64 fails loudly rather than being mis-scaled 1000× — the
    footer read is metadata-only, no extra Spark job.
    Without a path (non-file DataFrames) the historical nanos
    assumption applies, since that is the only encoding that reaches
    LongType via our own session confs.

    Only the known fixture timestamp columns are touched; a plain int64
    column like ``event_id`` must not be reinterpreted.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    to_micros = {
        "ns": lambda c: F.expr(f"{c} div 1000"),
        "us": lambda c: F.col(c),
        "ms": lambda c: F.expr(f"{c} * 1000"),
        "s": lambda c: F.expr(f"{c} * 1000000"),
    }
    ts_cols = {"ts", "o_orderdate", "l_shipdate"}
    for field in df.schema.fields:
        if field.name not in ts_cols:
            continue
        if isinstance(field.dataType, T.LongType):
            unit = _footer_ts_unit(path, field.name) if path else "ns"
            df = df.withColumn(
                field.name,
                F.timestamp_micros(to_micros[unit](field.name)))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(
                field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = normalize_timestamps(spark.read.parquet(path), path)
    if name == "events":
        # An event without a timestamp is contentless for a time-series
        # engine, and the engines disagree on every path it touches:
        # Spark's window() silently emits no bucket for a NULL event
        # time while date-arithmetic oracles emit a NULL bucket, and
        # ORDER BY places NULLs first (Spark) vs last (DuckDB), shifting
        # every running/as-of/session computation. Gate ONCE at the scan
        # (pushed to the parquet reader as IsNotNull); every events
        # oracle carries the same `WHERE ts IS NOT NULL`. Same policy as
        # the streaming sources' epoch gate, which already drops NULLs.
        from pyspark.sql import functions as F
        df = df.filter(F.col("ts").isNotNull())
        # A non-finite measurement (NaN/±Inf — sensor garbage, a failed
        # upstream division) is a MISSING value, not a magnitude: keep
        # the row (its timestamp still sessionizes/counts) but null the
        # measurement, exactly like the embeddings finite-vector gate.
        # Ungated, the engines diverge loudly on every quantizing path:
        # CAST(non-finite AS BIGINT) is 0 / LONG_MAX in non-ANSI Spark
        # but a hard ConversionException in DuckDB. Every events oracle
        # mirrors this as CASE WHEN isfinite(value) THEN value END.
        v = F.col("value")
        df = df.withColumn(
            "value",
            F.when(F.isnan(v) | (F.abs(v) == F.lit(float("inf"))),
                   F.lit(None).cast("double")).otherwise(v))
    return df


# ``doc_id`` is the documents table's PRIMARY KEY — a precondition, not
# a guarantee the engine re-derives per query. A corpus that violates
# it (re-crawled content under the same id, at-least-once redelivery)
# makes id-keyed multiplicities ILL-DEFINED, and the r06 dup-id probe
# measured exactly that: dedup_minhash_lsh / dedup_simhash emit
# engine-dependent duplicate pair rows and text_heaps' cumulative
# vocabulary becomes order-ambiguous. Re-deduplicating on every scan
# would bolt a corpus-wide shuffle onto every documents query at
# 100 TB; the production answer is resolution ONCE at ingest — this
# operator — after which every downstream query is total again
# (test-pinned on the hazard corpus in tests/test_registry_fuzz.py).

def resolve_document_identity(df: DataFrame) -> DataFrame:
    """Keep exactly one row per doc_id, chosen by a content-
    deterministic, engine-shared rule — min md5(text), with NULL text
    folded to '' and a NULL-flag tiebreak so the keeper never depends
    on row order or NULL placement. The ordering covers EVERY column,
    not just text: duplicate ids with identical text but divergent
    metadata (re-crawl under a different source tag, a lang-id rerun)
    would otherwise tie, making the keeper's metadata — consumed
    downstream by lang grouping, source mixture weights — row-order/
    engine-dependent, the exact nondeterminism this operator exists
    to close (ADVICE r06). Each nullable tiebreak is a
    (coalesce, IS NULL) pair so '' and NULL stay distinguishable and
    neither engine's NULL placement leaks in. Run at ingest (once per
    batch), not per query.

    Physical form: min(struct(keys…, full_row)) in ONE hash
    aggregate, not a row_number window — struct min is lexicographic
    over the same key sequence (every key is non-NULL by
    construction, and rows tying on all keys are identical, so the
    trailing row field never decides), and the aggregate gets
    map-side partial combining with NO per-partition sort. At ingest
    scale that is the difference between a sort of every partition
    and a shuffle of one candidate keeper per (partition, doc_id).
    ``RESOLVE_DOCUMENTS_SQL`` stays the row_number form — the
    readable semantic spec — with keeper equivalence between the two
    forms pinned full-row in test_registry_fuzz.py."""
    keys = [
        F.md5(F.coalesce(F.col("text"), F.lit(""))),
        F.coalesce(F.col("text"), F.lit("")),
        F.col("text").isNull(),
        F.coalesce(F.col("lang"), F.lit("")),
        F.col("lang").isNull(),
        F.coalesce(F.col("source"), F.lit("")),
        F.col("source").isNull(),
        F.coalesce(F.col("n_chars"), F.lit(-(2 ** 63)).cast("long")),
        F.col("n_chars").isNull(),
    ]
    row = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    keeper = F.min(F.struct(*[k.alias(f"_k{i}")
                              for i, k in enumerate(keys)], row))
    return (df.groupBy("doc_id").agg(keeper.alias("_m"))
            .select("_m._row.*"))


RESOLVE_DOCUMENTS_SQL = """
SELECT * EXCLUDE (_rn) FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY md5(coalesce(text, '')), coalesce(text, ''),
                 (text IS NULL),
                 coalesce(lang, ''), (lang IS NULL),
                 coalesce(source, ''), (source IS NULL),
                 coalesce(n_chars, -9223372036854775808),
                 (n_chars IS NULL)) AS _rn
    FROM documents) WHERE _rn = 1
"""


# The same precondition holds for embeddings.vec_id: the r06 dup-id
# probe measured hyperplane-LSH ANN emitting engine-dependent duplicate
# candidate rows and the PQ ADC index CRASHING outright (its dense
# positional codebook ids assume one row per vec_id) under duplicate
# ids. Loud beats silent, but the contract is the same: resolve at
# ingest. The keeper rule avoids float FORMATTING entirely — engines
# never agree on float-to-string — by ordering on the micro-quantized
# INTEGER rendering of the vector (exact in both engines). The
# per-element rendering is TOTAL over the hazards real embedding feeds
# contain (NULL components, NaN, ±Inf, out-of-envelope magnitudes):
# each maps to a distinct sentinel so ordering stays deterministic and
# neither engine ever casts a non-finite double to BIGINT (a hard
# error in DuckDB, silent saturation in non-ANSI Spark). The CASE text
# is shared verbatim by the Spark expression, the DuckDB twin, and the
# violation check.

_EMB_ELEM_CASE = (
    "CASE WHEN x IS NULL THEN -9223372036854775808 "
    "WHEN isnan(CAST(x AS DOUBLE)) THEN -9223372036854775807 "
    "WHEN CAST(x AS DOUBLE) >= 4e9 THEN 9223372036854775807 "
    "WHEN CAST(x AS DOUBLE) <= -4e9 THEN -9223372036854775806 "
    "ELSE CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5E0) AS BIGINT) END")
_EMB_KEY_SPARK = ("CASE WHEN embedding IS NULL THEN array() "
                  f"ELSE transform(embedding, x -> {_EMB_ELEM_CASE}) END")
_EMB_KEY_DUCK = ("CASE WHEN embedding IS NULL THEN [] "
                 f"ELSE list_transform(embedding, x -> {_EMB_ELEM_CASE}) "
                 "END")


def resolve_embedding_identity(df: DataFrame) -> DataFrame:
    """Keep exactly one row per vec_id, engine-shared deterministic
    rule: non-NULL embedding first, then lexicographic compare of the
    total 1e6-grid integer rendering (``_EMB_ELEM_CASE``), then label.
    Run at ingest; ``RESOLVE_EMBEDDINGS_SQL`` is the DuckDB twin.
    Same min(struct(keys…, row)) single-aggregate physical form as
    ``resolve_document_identity`` (no per-partition sort; the integer
    rendering is NULL-free and label coalesces, so the key sequence
    is totally ordered and the trailing row never decides)."""
    keys = [
        F.col("embedding").isNull(),
        F.expr(_EMB_KEY_SPARK),
        F.coalesce(F.col("label").cast("long"), F.lit(-(2 ** 63))),
    ]
    row = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    keeper = F.min(F.struct(*[k.alias(f"_k{i}")
                              for i, k in enumerate(keys)], row))
    return (df.groupBy("vec_id").agg(keeper.alias("_m"))
            .select("_m._row.*"))


RESOLVE_EMBEDDINGS_SQL = f"""
SELECT * EXCLUDE (_rn) FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id
        ORDER BY (embedding IS NULL),
                 {_EMB_KEY_DUCK},
                 coalesce(CAST(label AS BIGINT), -9223372036854775808)
    ) AS _rn
    FROM embeddings) WHERE _rn = 1
"""


def embedding_id_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id PK check, the embeddings twin of
    ``document_id_violations`` (distinct_vectors counts the integer
    renderings, so it is exact, not format-dependent)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (e.groupBy("vec_id")
            .agg(F.count(F.lit(1)).alias("copies"),
                 F.countDistinct(F.expr(_EMB_KEY_SPARK))
                 .alias("distinct_vectors"))
            .filter(F.col("copies") > 1))


def document_id_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate check for the doc_id PK precondition: one row per
    violated id with its multiplicity and how many DISTINCT texts hide
    behind it (distinct_texts > 1 = a real re-crawl conflict, not just
    redelivery). Empty result = the corpus satisfies the contract."""
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("copies"),
                 F.countDistinct(F.coalesce(F.col("text"), F.lit("")))
                 .alias("distinct_texts"))
            .filter(F.col("copies") > 1))


def require_unique_ids(df: DataFrame, id_col: str,
                       context: str) -> DataFrame:
    """Fail-LOUD PK gate (VERDICT r07 #5): return ``df`` unchanged when
    ``id_col`` is unique; raise the pinned "PK precondition" error the
    moment any consumer executes a plan built on a duplicate-id corpus.
    Attached to the scans of the id-keyed operators whose multiplicity
    semantics can't be totalized (the raw-pair LSH composers, the
    persisted/incremental index lifecycle, CDC chunking) so running
    them on an unresolved corpus is a diagnosable error instead of
    silently engine-dependent rows (the r07 dup-id campaign measured
    exactly that divergence — scripts/fuzz_dupid.py).

    Physical form: one id-keyed count aggregate (map-side partial)
    collapsed to a single audit row (``pk_verdict``), broadcast
    cross-joined onto the stream (``attach_verdict``) — the
    ``q_ingest_id_audit`` shape. The assert rides the broadcast row, so
    the per-data-row cost is a NULL-column drop; what the gate really
    costs is one extra scan+aggregate of the input per query, or one
    per corpus state per session where the caller pins the verdict
    with the corpus state (the LSH lifecycle does). Production
    pipelines that resolve identities at ingest
    (``resolve_document_identity`` and friends) pass their resolved
    scan through the composers, which skip this gate — the check
    belongs at ingest; this is the belt-and-braces for ad-hoc runs on
    unaudited corpora.

    Gate a SINGLE-consumer stream: a gated DF that fans out to N
    consumers replays the audit subtree N times in the AQE initial
    plan (runtime exchange reuse collapses most of it, but the plan —
    and the pinned shuffle budgets — carry N copies). Operators whose
    id source fans out attach the gate to their OUTPUT stream instead
    via ``attach_pk_gate(out, ids_df=...)``."""
    return attach_pk_gate(df, df, id_col, context)


def attach_pk_gate(stream: DataFrame, ids_df: DataFrame, id_col: str,
                   context: str) -> DataFrame:
    """The decomposed form of ``require_unique_ids``: audit ``id_col``
    uniqueness over ``ids_df`` but attach the fail-loud gate to
    ``stream`` (same schema out). Lets an operator whose id source
    feeds many consumers gate once, at its single-consumer output.
    Audits on every query (``pk_verdict`` with a state: once)."""
    return attach_verdict(stream, pk_verdict(ids_df, id_col, context))


# One-row PK verdicts pinned per corpus state (policy in
# plans/cache.py): an unchanged corpus is audited once per session
_PK_VERDICT_LIVE = StateCache(max_entries=8)


def pk_verdict(ids_df: DataFrame, id_col: str, context: str,
               state: object = None) -> DataFrame:
    """The gate's one-row verdict over ``ids_df``: a NULL ``_pk_gate``
    when ``id_col`` is unique, the pinned "PK precondition" error when
    executed over duplicate ids. Given the input's corpus ``state``,
    the verdict is pinned: its first execution audits and caches the
    row, later plans over the same state read the cached row. A
    failing verdict is never cached (the assert aborts the job), so a
    duplicate-id corpus raises on every execution, and an in-place
    rewrite changes the state and forces a new audit."""
    viol = (ids_df.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("_copies"))
            .filter(F.col("_copies") > 1)
            .agg(F.count(F.lit(1)).alias("_dup_ids"),
                 F.coalesce(F.max("_copies"), F.lit(0)).alias("_max_copies"),
                 F.min(F.col(id_col).cast("string")).alias("_near_id")))
    msg = F.concat(
        F.lit(f"{id_col} PK precondition violated in {context}: "),
        F.col("_dup_ids").cast("string"),
        F.lit(" duplicate id(s), worst multiplicity "),
        F.col("_max_copies").cast("string"),
        F.lit(", e.g. "), F.coalesce(F.col("_near_id"), F.lit("?")),
        F.lit("; resolve identities at ingest "
              "(resolve_document_identity / resolve_embedding_identity)"
              " before this operator"))
    verdict = viol.select(
        F.assert_true(F.col("_dup_ids") == 0, msg).alias("_pk_gate"))
    if state is None:
        return verdict
    return _PK_VERDICT_LIVE.pin(verdict, ids_df.sparkSession, state)


def attach_verdict(stream: DataFrame, verdict: DataFrame) -> DataFrame:
    """Attach a ``pk_verdict`` to ``stream`` (same schema out): every
    row of ``stream`` waits on the broadcast verdict row."""
    # the gate ADDS (then drops) _pk_gate; a stream already carrying
    # that name would make the crossJoin output ambiguous — refuse
    # loudly, mirroring write_zordered's reserved-name check (ADVICE
    # r08)
    if "_pk_gate" in stream.columns:
        raise ValueError(
            "the PK gate reserves column name '_pk_gate'; rename it "
            "before gating")
    # the filter REFERENCES _pk_gate so column pruning can never elide
    # the assert; on a clean corpus assert_true is NULL and every row
    # passes
    return (stream.crossJoin(F.broadcast(verdict))
            .filter(F.col("_pk_gate").isNull()).drop("_pk_gate"))


def q_ingest_id_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest identity GATE as a first-class query: one row
    summarizing both PK audits — how many doc_ids/vec_ids are
    violated, the worst multiplicity, and how many are REAL conflicts
    (distinct texts / distinct vector renderings behind one id —
    re-crawls and re-embeds, vs mere redelivery). All zeros = the
    corpus satisfies the contract and every id-keyed operator's
    precondition holds; production runs this before (or fails over
    to) ``resolve_document_identity`` / ``resolve_embedding_identity``.
    Scale shape: two id-keyed count aggregates (map-side partial) each
    collapsing to one row, then a broadcast single-row cross join —
    nothing corpus-sized ever moves."""
    d = (document_id_violations(spark, sf_dir)
         .agg(F.count(F.lit(1)).cast("long").alias("doc_dup_ids"),
              F.coalesce(F.max("copies"), F.lit(0)).cast("long")
              .alias("doc_max_copies"),
              F.coalesce(F.sum(F.when(F.col("distinct_texts") > 1, 1)
                               .otherwise(0)), F.lit(0)).cast("long")
              .alias("doc_conflict_ids")))
    e = (embedding_id_violations(spark, sf_dir)
         .agg(F.count(F.lit(1)).cast("long").alias("vec_dup_ids"),
              F.coalesce(F.max("copies"), F.lit(0)).cast("long")
              .alias("vec_max_copies"),
              F.coalesce(F.sum(F.when(F.col("distinct_vectors") > 1, 1)
                               .otherwise(0)), F.lit(0)).cast("long")
              .alias("vec_conflict_ids")))
    return d.crossJoin(F.broadcast(e))


ORACLE_INGEST_ID_AUDIT = f"""
WITH dv AS (
    SELECT doc_id, count(*) AS copies,
           count(DISTINCT coalesce(text, '')) AS distinct_texts
    FROM documents GROUP BY doc_id HAVING count(*) > 1),
ev AS (
    SELECT vec_id, count(*) AS copies,
           count(DISTINCT {_EMB_KEY_DUCK}) AS distinct_vectors
    FROM embeddings GROUP BY vec_id HAVING count(*) > 1),
da AS (
    SELECT CAST(count(*) AS BIGINT) AS doc_dup_ids,
           CAST(coalesce(max(copies), 0) AS BIGINT) AS doc_max_copies,
           CAST(coalesce(sum(CASE WHEN distinct_texts > 1 THEN 1
                                  ELSE 0 END), 0) AS BIGINT)
               AS doc_conflict_ids
    FROM dv),
ea AS (
    SELECT CAST(count(*) AS BIGINT) AS vec_dup_ids,
           CAST(coalesce(max(copies), 0) AS BIGINT) AS vec_max_copies,
           CAST(coalesce(sum(CASE WHEN distinct_vectors > 1 THEN 1
                                  ELSE 0 END), 0) AS BIGINT)
               AS vec_conflict_ids
    FROM ev)
SELECT * FROM da CROSS JOIN ea
"""


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def stopwords_df(spark: SparkSession) -> DataFrame:
    """Per-language stopword table (lang, word).

    Built with a SQL VALUES literal, not ``createDataFrame(list)``: a
    Python-parallelized DataFrame drags a Python-worker deserialization
    stage into every broadcast that references it; an inline VALUES
    relation stays entirely JVM-side (and Catalyst folds it to a
    LocalRelation).
    """
    return spark.sql(f"SELECT lang, word FROM {stopword_values_sql()}")
