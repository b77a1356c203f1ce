"""Streaming operators over the events table (SURVEY.md §7.3: the
reference has no streaming surface at all — §2.8 — so this entire
module is engine capability beyond reference parity).

Each operator is expressed once as a streaming transformation
(readStream → transform → writeStream). For the driver contract the
query runs to completion with ``Trigger.AvailableNow`` into a memory
sink and returns the result DataFrame, which makes every streaming
operator batch-equivalence-testable against a DuckDB oracle — the
"batch oracle" strategy from SURVEY.md §7.4.

Scale notes: in production these run continuously against a log store
(Kafka/files); watermarks bound state, and session windows use Spark's
native state store. The memory sink is only the test harness.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import usum, usum_sql

from ..plans.cache import corpus_state
from ..sources.tables import _ensure_session_confs, normalize_timestamps

SESSION_GAP_SECONDS = 1800

# DuckDB text of the gated streaming events scan — the oracle mirror of
# `_gate_epoch` (epoch gate + non-finite-measurement gate), defined
# ONCE so a scan-gate policy change edits one constant instead of
# every streaming oracle (this module changed the gate three times in
# one round: ts gate, non-finite gate, epoch gate). Two shapes: the
# plain gated scan, and the keyed variant for stream-stream joins
# (NULL join identities gated out — Spark's state-store key equality
# is binary, so NULL keys MATCH each other there, unlike batch `=`).
# Both shapes render from ONE template with a predicate placeholder
# (ADVICE r05): deriving the keyed form by slicing the plain form's
# closing parenthesis would silently corrupt it the moment the base
# text's trailing character changes.
_STREAM_EVENTS_TMPL = (
    "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts, "
    "CASE WHEN isfinite(value) THEN value END AS value) FROM events "
    "WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01'{extra})")
STREAM_EVENTS_SQL = _STREAM_EVENTS_TMPL.format(extra="")
STREAM_EVENTS_KEYED_SQL = _STREAM_EVENTS_TMPL.format(
    extra=" AND user_id IS NOT NULL")


def _table_parts(sf_dir: str, table: str) -> list[str]:
    """A fixture table's file list: either the single parquet file,
    or — when the partitioning-invariance fuzz rewrote the corpus as a
    directory — each part file (the file-stream source does not follow
    a symlinked directory's contents, so parts are linked one by one).
    """
    import os

    target = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(target) and not os.path.islink(target):
        return [f"{target}/{f}" for f in sorted(os.listdir(target))
                if f.endswith(".parquet")]
    return [target]


def _corpus_parts(sf_dir: str) -> list[str]:
    return _table_parts(sf_dir, "events")


def _link_layout(d: str, pairs: list[tuple[str, str]]) -> str:
    """Materialize exactly the (link, target) layout in ``d``: remove
    any other symlink (a corpus layout change would otherwise leave
    stale links delivering extra copies), refresh dangling/moved
    links, create the rest."""
    import os

    os.makedirs(d, exist_ok=True)
    expected = {l for l, _ in pairs}
    for f in os.listdir(d):
        stale = f"{d}/{f}"
        if os.path.islink(stale) and stale not in expected:
            os.remove(stale)
    for link, tgt in pairs:
        if os.path.islink(link) and os.path.realpath(link) != \
                os.path.realpath(tgt):
            os.remove(link)
        if not os.path.islink(link):
            os.symlink(tgt, link)
    return d


def _dir_slug(abspath: str) -> str:
    """Injective /tmp-dir name for a corpus path: readable flattened
    form PLUS a short hash of the exact path — flattening '/' to '_'
    alone collides distinct paths (/data/sf_1 vs /data/sf/1), and two
    harnesses sharing a colliding link dir would re-point each other's
    symlinks mid-stream."""
    import hashlib

    return (abspath.strip("/").replace("/", "_")
            + "_" + hashlib.md5(abspath.encode()).hexdigest()[:8])


def _table_stream_dir(sf_dir: str, table: str) -> str:
    """The file streaming source requires a *directory*; the fixture is
    a single parquet file (or a fuzz-rewritten directory of parts).
    Build (once) a /tmp directory of symlinks to it — a test-harness
    shim only; a production stream reads a log directory or Kafka.
    One implementation for every fixture table (events, documents) so
    the layout policy cannot diverge between feeds."""
    import os

    # abspath first: a relative sf_dir would otherwise be resolved
    # relative to the /tmp link dir (dangling symlink), and the dir
    # name would alias distinct working-directory spellings.
    sf_dir = os.path.abspath(sf_dir)
    d = f"/tmp/ncs_stream/{_dir_slug(sf_dir)}_{table}"
    parts = _table_parts(sf_dir, table)
    if len(parts) == 1:
        pairs = [(f"{d}/{table}.parquet", parts[0])]
    else:
        pairs = [(f"{d}/{os.path.basename(t)}", t) for t in parts]
    return _link_layout(d, pairs)


def _stream_dir(sf_dir: str) -> str:
    return _table_stream_dir(sf_dir, "events")



def _gate_epoch(stream: DataFrame) -> DataFrame:
    """Timestamp sanity gate for streaming sources: drop pre-epoch
    event times. Spark's state-store watermark starts at epoch 0, so a
    pre-1970 event time (clock corruption in a real feed) is silently
    dropped as late in its arrival batch — a batch oracle cannot model
    "initial watermark" without replaying batch boundaries. Gating the
    garbage explicitly at the source (standard ingest validation)
    makes the streaming contract total; the oracles mirror the gate.
    Found by the extreme-hazard fuzz tier (1969 timestamps).

    Also nulls non-finite measurements (NaN/±Inf), mirroring the batch
    scan gate in ``sources/tables.py::load_table``: the row's event
    time still windows/sessionizes, but the garbage magnitude must not
    reach the quantizing sums (CAST(non-finite AS BIGINT) is silent
    0/LONG_MAX in Spark, a hard error in the DuckDB oracles)."""
    v = F.col("value")
    # timestamp_seconds(0), not lit('1970-01-01').cast('timestamp'):
    # a string literal is interpreted in the SESSION timezone, so the
    # gate boundary would drift off UTC epoch-0 under a non-UTC
    # session. _ensure_session_confs pins UTC before any plan here is
    # built, so this was latent, not live — but the gate should not
    # depend on that ordering.
    return (stream
            .filter(F.col("ts") >= F.timestamp_seconds(F.lit(0)))
            .withColumn("value",
                        F.when(F.isnan(v) | (F.abs(v) == F.lit(float("inf"))),
                               F.lit(None).cast("double")).otherwise(v)))

# Batch-peeked stream schemas, keyed by (fixture path, mtime_ns, size)
# so an in-place rewrite of the corpus — the fuzz harnesses' pattern —
# invalidates the entry instead of delivering a stale schema (ADVICE
# r05). The peek pays a file-listing + footer read per call otherwise,
# and the self-join queries build two streams per run.
_SCHEMA_CACHE: dict[tuple[str, int, int], object] = {}


def _schema_cache_key(path: str) -> tuple[str, int, int]:
    """(path, mtime, size) — the schema-cache key. On a non-local
    filesystem os.stat raises; the degradation to path-only keying is
    WARNED about (ADVICE r06 — the dedup index naming had the same
    silent fallback), because a rewritten fixture at the same path
    would then serve a stale cached schema."""
    import os
    import warnings

    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        warnings.warn(
            f"cannot os.stat {path}: streaming schema cache degrades "
            f"to path-only keying — a rewritten corpus at the same "
            f"path may serve a stale schema", stacklevel=2)
        return (path, -1, -1)


def _peek_schema(spark: SparkSession, path: str):
    """Batch-peeked, state-keyed cached schema for a streaming source
    — one implementation for every fixture feed."""
    cache_key = _schema_cache_key(path)
    schema = _SCHEMA_CACHE.get(cache_key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[cache_key] = schema
    return schema


def _event_stream(spark: SparkSession, sf_dir: str,
                  dir_fn=None, max_files_per_trigger: int | None = None
                  ) -> DataFrame:
    """readStream over the events parquet (schema from a batch peek;
    ns→µs conversion identical to the batch loader). Session confs are
    set defensively — the driver harness runs these under its own bare
    SparkSession, where the nanos-timestamp parquet would otherwise
    fail to read.

    ``dir_fn`` picks the stream directory shape (default single-
    delivery ``_stream_dir``; the dedup/merge queries pass
    ``_dup_stream_dir``), and ``max_files_per_trigger`` bounds the
    micro-batch — ONE builder for every streaming source so the
    scan-gate and timestamp policy live in one place. The fixture path
    is passed to ``normalize_timestamps`` so the parquet footer's unit
    annotation decides the epoch divisor exactly as the batch loader
    does — without it, a future ms/us-encoded int64 corpus would be
    silently mis-scaled 1000x instead of failing loudly."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(_peek_schema(spark, path))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet((dir_fn or _stream_dir)(sf_dir))
    return _gate_epoch(normalize_timestamps(stream, path))


# State-store partition count for the run-to-completion harness. Every
# stateful streaming operator materializes one state store INSTANCE per
# shuffle partition, and each instance pays open + commit + delta-file
# I/O per micro-batch — overhead independent of data volume. At the
# harness's scale 32 instances are pure fixed cost (measured sf0.1:
# tumbling 8.9 s -> 1.6 s, stream-stream join 15.2 s -> 5.9 s when
# dropping 32 -> 8). On a real cluster, size this to the executor core
# count instead — state partitions are also the unit of parallelism,
# and the per-instance cost amortizes over real per-batch volume.
STREAM_STATE_PARTITIONS = 8


import contextlib


@contextlib.contextmanager
def _pinned_state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to STREAM_STATE_PARTITIONS
    for the duration of a streaming run (the conf is read at
    micro-batch planning, inside awaitTermination) and restore it
    afterwards so batch queries on the same session keep their own
    sizing. One helper for every streaming driver — the sizing policy
    (e.g. executor-core-based on a real cluster) changes in one
    place."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_completion(result: DataFrame, name: str,
                       output_mode: str) -> DataFrame:
    """Drive the streaming query over all available input and return the
    materialized result table."""
    spark = result.sparkSession
    with _pinned_state_partitions(spark):
        q = (result.writeStream.outputMode(output_mode)
             .format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name)


def tumbling_agg(stream: DataFrame) -> DataFrame:
    """1-hour tumbling event-time windows with a 10-minute watermark."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             usum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"),
                "event_type", "n", "sum_value")
    )


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts, run to completion. Complete
    output mode → the full result, batch-equivalent to the DuckDB
    time_bucket oracle."""
    return _run_to_completion(
        tumbling_agg(_event_stream(spark, sf_dir)),
        "stream_tumbling_out", "complete")


# Same semantics as rel_tumbling_window — the streaming plan must agree
# with the batch oracle.
ORACLE_STREAM_TUMBLING = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       count(*) AS n, {usum_sql("value")} AS sum_value
FROM {STREAM_EVENTS_SQL} events
GROUP BY 1, 2
"""


def session_agg(stream: DataFrame,
                gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Native session windows: merge events per user while consecutive
    gaps stay under ``gap_seconds`` (Spark's session_window state-store
    operator — the streaming counterpart of the batch lag+cumsum
    sessionize in relational.py)."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", f"{gap_seconds} seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             usum("value").alias("sum_value"))
        .select("user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events", "sum_value")
    )


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_completion(
        session_agg(_event_stream(spark, sf_dir)),
        "stream_session_out", "complete")


# Batch-equivalent sessionization at FULL microsecond precision with the
# session_window boundary rule: new session only when the gap is
# STRICTLY greater than the threshold. Verified empirically: an event
# at exactly prev + gap lands in the SAME session (Spark treats the
# [t, t+gap] extent as closed for merging); prev + gap + 1µs starts a
# new one. A `>=` here diverges exactly at the boundary — found by the
# adversarial fuzz, which plants gaps of exactly SESSION_GAP_SECONDS.
ORACLE_STREAM_SESSION = f"""
WITH ev AS {STREAM_EVENTS_SQL},
gapped AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id)
                > {SESSION_GAP_SECONDS} * 1000000
                THEN 1 ELSE 0 END AS new_sess
    FROM ev),
sess AS (
    SELECT user_id, ts, value,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM gapped)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events, {usum_sql("value")} AS sum_value
FROM sess GROUP BY user_id, sid
"""


# --- custom stateful operator (applyInPandasWithState) ------------------

STATEFUL_OUT_SCHEMA = "user_id long, n_events long, total_value double"
STATEFUL_STATE_SCHEMA = "n long, total long, nv long"


def _count_fn(key, pdf_iter, state):
    """Running per-user totals in explicit state — the minimal custom
    stateful operator shape (arbitrary state, not a built-in agg).

    The state total is integer MICRO-units, not a float: float state
    accumulates in batch-arrival order, which need not match the
    oracle's serial order, and Python ints are exact at any magnitude
    (the same order-independence idiom as functions/exact.py). `nv`
    counts non-NULL measurements so a user with ONLY NULL values
    yields a NULL total (SQL sum semantics) rather than 0.0."""
    import math

    def q_micro(v: float) -> int:
        # floor(v*1e6 + 0.5) — byte-for-byte the _qterm emission the
        # SQL twins use (half toward +inf; Python round() would be
        # banker's and math.floor here is exact IEEE like SQL floor),
        # so the state matches the oracle's quantized sum at EVERY
        # input, negative exact halves included.
        return math.floor(v * 1e6 + 0.5)

    n, total, nv = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        vals = pdf["value"].dropna()
        nv += len(vals)
        total += sum(q_micro(v) for v in vals)
    state.update((n, total, nv))
    # same floor-half derivation as functions/exact.py (python round()
    # is banker's — would disagree with the SQL twins on exact halves)
    tv = ((total + 50) // 100) / 1e4 if nv else None
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [tv]})


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _count_fn,
            outputStructType=STATEFUL_OUT_SCHEMA,
            stateStructType=STATEFUL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-state streaming aggregation driven to completion; the
    final per-user totals equal a plain batch groupBy — giving the
    stateful path a real SQL oracle. (Update mode: take the last emit
    per user.)"""
    out = _run_to_completion(
        stateful_user_totals(_event_stream(spark, sf_dir)),
        "stream_stateful_out", "update")
    # AvailableNow may emit a user several times across micro-batches;
    # the final state is the emit with the highest (monotone) n_events.
    final = F.max(F.struct("n_events", "total_value")).alias("s")
    return (out.groupBy("user_id").agg(final)
            .select("user_id", F.col("s.n_events").alias("n_events"),
                    # no round(): _count_fn already derives a
                    # grid-exact <=4-decimal value, and round(x, k) is
                    # the engine-divergent primitive exact.py bans
                    F.col("s.total_value").alias("total_value")))


ORACLE_STREAM_STATEFUL = f"""
SELECT user_id, count(*) AS n_events, {usum_sql("value")} AS total_value
FROM {STREAM_EVENTS_SQL} events
GROUP BY user_id
"""


# --- streaming deduplication --------------------------------------------

def _dup_stream_dir(sf_dir: str) -> str:
    """A stream directory where every event arrives TWICE (two links to
    the same fixture file) — the at-least-once-delivery shape streaming
    dedup exists for."""
    import os

    # same abspath + stale-link guard as _stream_dir: a relative sf_dir
    # would resolve the link target against /tmp (dangling symlink).
    sf_dir = os.path.abspath(sf_dir)
    d = f"/tmp/ncs_stream/{_dir_slug(sf_dir)}_events_dup"
    pairs = [(f"{d}/events_{i:03d}_{tag}.parquet", tgt)
             for i, tgt in enumerate(_corpus_parts(sf_dir))
             for tag in ("a", "b")]
    return _link_layout(d, pairs)


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Exactly-once projection of an at-least-once stream: drop
    duplicate event_ids, then count per type (complete mode).

    State note: plain dropDuplicates keeps all seen ids — right for
    the run-to-completion harness and deterministic at any arrival
    order. A production continuous pipeline bounds the id state with
    ``withWatermark(...).dropDuplicatesWithinWatermark('event_id')``,
    which is exact only when a duplicate can't arrive later than the
    watermark delay; the fixture's event times span 30 days, so the
    bounded variant would be arrival-order-dependent here."""
    # A NULL event_id is unidentifiable — no delivery of it can ever be
    # recognized as a duplicate, and Spark's dropDuplicates treats NULL
    # keys as EQUAL (state-store binary key equality), collapsing
    # distinct null-id events where the count oracle keeps both. Gate
    # them out, same policy as the keyed stream-stream joins.
    return (stream.filter(F.col("event_id").isNotNull())
            .dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 usum("value").alias("sum_value")))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup over a doubled input: every event is delivered
    twice; the output must equal single-delivery batch counts — a
    self-checking oracle (any dedup failure doubles n)."""
    stream = _event_stream(spark, sf_dir, dir_fn=_dup_stream_dir,
                           max_files_per_trigger=1)
    return _run_to_completion(
        dedup_stream(stream), "stream_dedup_out", "complete")


ORACLE_STREAM_DEDUP = f"""
SELECT event_type, count(*) AS n, {usum_sql("value")} AS sum_value
FROM {STREAM_EVENTS_SQL} events
WHERE event_id IS NOT NULL
GROUP BY event_type
"""


# --- streaming identity resolution (keeper rule in-flight) ---------------

def _conflict_stream_dir(sf_dir: str) -> str:
    """Delivery 1 = the fixture (symlinks); delivery 2 = a
    deterministic RE-CRAWL CONFLICT of every event — value shifted
    +0.5, props dropped — written ONCE per corpus STATE (mtime+size
    keyed, stale conflict files removed; a fuzz fixture rewrite forces
    a regeneration instead of serving stale payloads). This is the
    at-least-once + divergent-payload delivery shape that streaming
    identity resolution exists for: plain dedup can only collapse
    IDENTICAL redeliveries, a keeper RULE must pick between
    conflicting ones."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sf_dir = os.path.abspath(sf_dir)
    d = f"/tmp/ncs_stream/{_dir_slug(sf_dir)}_events_conflict"
    parts = _corpus_parts(sf_dir)
    _link_layout(d, [(f"{d}/events_{i:03d}_a.parquet", t)
                     for i, t in enumerate(parts)])
    state = "|".join(f"{os.stat(p).st_mtime_ns}:{os.stat(p).st_size}"
                     for p in parts)
    conflict = (f"{d}/conflict_"
                f"{hashlib.md5(state.encode()).hexdigest()[:8]}.parquet")
    for f in os.listdir(d):
        p = f"{d}/{f}"
        if (f.startswith("conflict_") and p != conflict
                and not os.path.islink(p)):
            os.remove(p)
    if not os.path.exists(conflict):
        t = pa.concat_tables([pq.read_table(p) for p in parts])
        vi = t.schema.get_field_index("value")
        t = t.set_column(vi, t.schema.field("value"),
                         pc.add(t.column("value"), 0.5))
        pi = t.schema.get_field_index("props")
        t = t.set_column(pi, t.schema.field("props"),
                         pa.nulls(t.num_rows, t.schema.field("props").type))
        pq.write_table(t, conflict + ".tmp")
        os.replace(conflict + ".tmp", conflict)
    return d


def resolve_stream_identity(stream: DataFrame) -> DataFrame:
    """Streaming face of ``sources.tables.resolve_document_identity``:
    keep exactly one row per event_id across however many (possibly
    DIVERGENT) deliveries arrive, by the same engine-shared keeper
    rule shape — min over a lexicographic (coalesce, IS NULL) key
    sequence covering every payload column, computed as one
    min(struct(keys…, full_row)) streaming aggregate. State per id is
    one candidate keeper row (merged incrementally per micro-batch —
    the partial-combine property the min-struct form was chosen for);
    a production continuous pipeline bounds it with an event-time
    timeout once no late redelivery can win, exactly like the dedup
    state note above. NULL event_ids are gated (unidentifiable — and
    the state store's binary key equality would collapse distinct
    NULL-id events)."""
    keys = [
        F.col("value").isNull(),
        F.coalesce(F.col("value"), F.lit(0.0)),
        F.col("props").isNull(),
        F.coalesce(F.col("props"), F.lit("")),
        F.col("event_type").isNull(),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.col("user_id").isNull(),
        F.coalesce(F.col("user_id"), F.lit(-(2 ** 63)).cast("long")),
        F.col("ts"),
    ]
    row = F.struct(*[F.col(c) for c in stream.columns]).alias("_row")
    keeper = F.min(F.struct(*[k.alias(f"_k{i}")
                              for i, k in enumerate(keys)], row))
    return (stream.filter(F.col("event_id").isNotNull())
            .groupBy("event_id").agg(keeper.alias("_m"))
            .select("_m._row.*"))


def q_stream_id_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity resolution IN-FLIGHT: every event arrives twice with
    DIVERGENT payloads (the fixture row and a deterministic re-crawl
    conflict — value shifted, props dropped); the resolved output must
    equal the keeper rule applied to both deliveries, which for this
    conflict shape is exactly the single-delivery batch scan — a
    self-checking oracle: picking any wrong delivery surfaces a
    shifted value or a nulled props column in the hash."""
    stream = _event_stream(spark, sf_dir, dir_fn=_conflict_stream_dir,
                           max_files_per_trigger=1)
    return _run_to_completion(
        resolve_stream_identity(stream), "stream_id_resolve_out",
        "complete")


# Both deliveries reconstructed relationally (the conflict projection
# is deterministic), then the SAME keeper ordering as a window rank —
# the readable row_number spec, like RESOLVE_DOCUMENTS_SQL. The
# delivery-2 branch gates non-finite values through the shared scan
# gate BEFORE the +0.5 shift; shifting a gated-NULL stays NULL and
# shifting a non-finite original is gated either way, so the branch
# gates are equivalent to gating the mutated file.
ORACLE_STREAM_ID_RESOLVE = f"""
WITH delivered AS (
    SELECT * FROM {STREAM_EVENTS_SQL} events
    WHERE event_id IS NOT NULL
    UNION ALL
    SELECT * REPLACE (value + 0.5 AS value,
                      CAST(NULL AS VARCHAR) AS props)
    FROM {STREAM_EVENTS_SQL} events
    WHERE event_id IS NOT NULL)
SELECT event_id, ts, user_id, event_type, value, props
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY event_id
        ORDER BY (value IS NULL), coalesce(value, 0e0),
                 (props IS NULL), coalesce(props, ''),
                 (event_type IS NULL), coalesce(event_type, ''),
                 (user_id IS NULL),
                 coalesce(user_id, -9223372036854775808),
                 ts) AS _rn
    FROM delivered) WHERE _rn = 1
"""


# --- sliding windows + stream-static enrichment --------------------------

def sliding_agg(stream: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in two
    windows) with a 10-minute watermark. Sum+count output, not avg:
    averages of uniform-rate fixtures land exactly on round()'s halfway
    boundary (see rel_sliding_window)."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"),
             usum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"), "n", "sum_value")
    )


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_to_completion(
        sliding_agg(_event_stream(spark, sf_dir)),
        "stream_sliding_out", "complete")


# Same trick as the batch ORACLE_SLIDING_WINDOW: a 1h/30min sliding
# window is the union of each event's 30-minute bucket and that bucket
# shifted back 30 minutes.
ORACLE_STREAM_SLIDING = f"""
WITH slid AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, value
    FROM {STREAM_EVENTS_SQL}),
wins AS (
    SELECT b AS win_start, value FROM slid
    UNION ALL
    SELECT b - INTERVAL '30 minutes' AS win_start, value FROM slid)
SELECT win_start, count(*) AS n, {usum_sql("value")} AS sum_value
FROM wins GROUP BY win_start
"""


def enrich_agg(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join the event stream against a
    static dimension (broadcast — the static side is planned per
    micro-batch exactly like a batch broadcast join), then a
    watermarked tumbling aggregation per enriched key. This is the
    streaming face of the reference's distributed-cache side input
    (Stopwords.java): small static table against unbounded input."""
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"])
    return (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             usum("value").alias("sum_value"))
        .select(F.col("window.start").alias("win_start"),
                "c_mktsegment", "n", "sum_value")
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table
    dim = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment")
    return _run_to_completion(
        enrich_agg(_event_stream(spark, sf_dir), dim),
        "stream_enrich_out", "complete")


ORACLE_STREAM_ENRICH = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, c_mktsegment,
       count(*) AS n, {usum_sql("value")} AS sum_value
FROM {STREAM_EVENTS_SQL} e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


# --- stream-stream interval join -----------------------------------------

FOLLOW_SECONDS = 600


def stream_pair_join(left: DataFrame, right: DataFrame,
                     follow_seconds: int = FOLLOW_SECONDS) -> DataFrame:
    """Watermarked stream-stream inner join: pair each event with the
    same user's events in the following ``follow_seconds``. The
    time-range predicate + both-side watermarks bound the join state
    (each side retains only rows inside the watermark horizon — without
    the range condition Spark would have to buffer both streams
    forever). The hardest streaming operator: state on BOTH sides,
    eviction driven by event time.

    NULL join identities are gated out of both inputs: the symmetric
    hash join's state-store key comparison is BINARY (null-safe), and
    empirically Spark's full-outer variant MATCHES two NULL-keyed rows
    while the inner variant and batch `=` do not — an engine
    inconsistency no oracle should have to model. A keyed stream-stream
    join requires the key; identity-less rows are contentless for it
    (same policy as the batch events ts gate)."""
    left = left.filter(F.col("user_id").isNotNull())
    right = right.filter(F.col("user_id").isNotNull())
    l = left.select(F.col("user_id").alias("l_user"),
                    F.col("event_id").alias("l_id"),
                    F.col("ts").alias("l_ts")).withWatermark("l_ts", "10 minutes")
    r = right.select(F.col("user_id").alias("r_user"),
                     F.col("event_id").alias("r_id"),
                     F.col("ts").alias("r_ts")).withWatermark("r_ts", "10 minutes")
    return (l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts")
           + F.expr(f"INTERVAL {follow_seconds} SECONDS")))
        .select(F.col("l_user").alias("user_id"), "l_id", "r_id",
                (F.col("r_ts").cast("long") - F.col("l_ts").cast("long"))
                .cast("long").alias("gap_sec")))


def q_stream_pair_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = _event_stream(spark, sf_dir)
    s2 = _event_stream(spark, sf_dir)
    return _run_to_completion(
        stream_pair_join(s1, s2), "stream_pair_join_out", "append")


ORACLE_STREAM_PAIR_JOIN = f"""
WITH ev AS {STREAM_EVENTS_KEYED_SQL}
SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
       CAST(floor(epoch(r.ts)) AS BIGINT)
         - CAST(floor(epoch(l.ts)) AS BIGINT) AS gap_sec
FROM ev l JOIN ev r
  ON l.user_id = r.user_id
 AND r.ts > l.ts
 AND r.ts <= l.ts + INTERVAL {FOLLOW_SECONDS} SECONDS
"""


def q_stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state exactly-once dedup:
    ``dropDuplicatesWithinWatermark`` keeps an id only until the
    watermark passes its event time, so state is O(events per watermark
    horizon) — the production form of stream_dedup, whose plain
    dropDuplicates retains every id ever seen.

    The harness delivers the doubled input in ONE micro-batch (no
    maxFilesPerTrigger): the watermark only advances between batches,
    so no state is evicted before both deliveries of every event are
    seen, making the bounded operator's output exactly the unique
    events — deterministic and oracle-checkable. (Across batches the
    result would depend on arrival order relative to the 30-day event
    span: correct only when duplicates arrive within the delay, which
    is the operator's documented contract.) The memory sink holds the
    deduped events; the per-type rollup on top is a batch aggregation
    over that table, keeping the streaming fragment exactly the
    operator under test."""
    stream = _event_stream(spark, sf_dir, dir_fn=_dup_stream_dir)
    # NULL event_id gate: same policy and reason as dedup_stream
    deduped = (stream.filter(F.col("event_id").isNotNull())
               .withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["event_id"]))
    sink = _run_to_completion(
        deduped, "stream_dedup_bounded_out", "append")
    return (sink.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 usum("value").alias("sum_value")))


ORACLE_STREAM_DEDUP_BOUNDED = ORACLE_STREAM_DEDUP


# --- foreachBatch idempotent-merge sink ---------------------------------

def stream_merge_to_table(spark: SparkSession, stream: DataFrame,
                          table_path: str, checkpoint: str,
                          key_cols: list[str]) -> None:
    """Exactly-once streaming upsert into a parquet key-value table via
    ``foreachBatch``: each micro-batch MERGEs its (pre-aggregated) rows
    into the table by key — new keys insert, existing keys are
    replaced by the batch's newer row.

    Idempotence under retries comes from the merge being a pure
    function of (table state, batch content): replaying a batch after
    a failure rewrites the same rows, so the sink commits
    at-least-once deliveries into exactly-once table state — the
    standard production pattern for pushing streaming aggregates to a
    serving store that doesn't speak Spark commits. The whole batch
    merge is JVM-side DataFrame work (anti-join + union + write); at
    scale the overwrite becomes a partition-scoped replace
    (partitionOverwriteMode=dynamic) or a real MERGE INTO on a
    transactional table format; the anti-join shape is identical.
    """
    import os

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        if os.path.exists(table_path):
            # Null-safe key equality (<=>), NOT on=key_cols: a NULL key
            # never satisfies plain `=`, so the anti-join would KEEP the
            # table's stale NULL-key row while the union adds the
            # batch's — one duplicate per micro-batch. With <=> a NULL
            # key upserts like any other (the standard MERGE-INTO
            # NULL-key pitfall on transactional tables too).
            current = sess.read.parquet(table_path).alias("cur")
            bkeys = batch.select(*key_cols).alias("b")
            cond = None
            for k in key_cols:
                c = F.col(f"cur.{k}").eqNullSafe(F.col(f"b.{k}"))
                cond = c if cond is None else (cond & c)
            merged = (current.join(bkeys, on=cond, how="left_anti")
                      .unionByName(batch))
        else:
            merged = batch
        # Plan reads the same path it overwrites: materialize the merge
        # before the write truncates the source — and UNPERSIST the
        # checkpoint blocks after the write, or a continuous pipeline
        # accumulates one full table copy in block storage per
        # micro-batch until executors evict or OOM.
        out = merged.localCheckpoint(eager=True)
        try:
            out.write.mode("overwrite").parquet(table_path)
        finally:
            out.unpersist()

    # update mode: each micro-batch delivers the keys whose aggregate
    # changed; the merge replaces exactly those rows, so the table
    # converges to the final aggregate state across batches.
    (stream.writeStream.foreachBatch(merge_batch)
     .outputMode("update")
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True)
     .start().awaitTermination())


def q_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface for the foreachBatch idempotent-merge sink: the
    at-least-once doubled event stream is delivered in TWO micro-batches
    (maxFilesPerTrigger=1), aggregated per event_type in update mode,
    and each batch is MERGEd into a parquet serving table; the query
    returns the FINAL table state — so a green row adjudicates the
    exactly-once upsert semantics end to end (batch 2 must replace
    batch 1's rows, not duplicate them).

    Measures are integer-exact (count + a floor-microunit sum) so the
    cross-batch accumulated totals hash identically to the one-shot
    oracle — no float-order sensitivity between incremental state and
    a single batch aggregation. Fresh table + checkpoint dirs per call
    keep the query re-runnable and deterministic."""
    import tempfile

    stream = _event_stream(spark, sf_dir, dir_fn=_dup_stream_dir,
                           max_files_per_trigger=1)
    agg = (stream.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 1e6)).cast("long")
                .alias("sum_value_micro")))
    base = tempfile.mkdtemp(prefix="ncs_merge_sink_")
    with _pinned_state_partitions(spark):
        stream_merge_to_table(spark, agg, f"{base}/table", f"{base}/cp",
                              key_cols=["event_type"])
    return spark.read.parquet(f"{base}/table")


# Every event arrives twice (the dup stream), and the merge sink's final
# state is the cumulative update-mode aggregate — i.e. the doubled
# totals, exactly.
ORACLE_STREAM_MERGE_SINK = f"""
SELECT event_type,
       CAST(2 * count(*) AS BIGINT) AS n,
       CAST(2 * sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
           AS sum_value_micro
FROM {STREAM_EVENTS_SQL} events
GROUP BY event_type
"""


# --- streaming windowed top-k -------------------------------------------

STREAM_TOPK = 3


def q_stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: the tumbling-window aggregate runs as a
    stream (watermarked state-store operator), and the top-K event
    types per window are ranked over the emitted aggregate — the
    kappa-architecture split every streaming leaderboard uses, because
    rank-over-window is not an incremental operator: the stream
    maintains the additive state (counts), the serving layer ranks the
    bounded aggregate. Here the ranking runs on the completed
    AvailableNow output; in production it is the same expression over
    the merge-sink serving table (``q_stream_merge_sink``).

    Scale: the ranked input is |windows|·|event types| rows — window
    exchange over the aggregate, never over raw events."""
    from pyspark.sql import Window

    agg = _run_to_completion(
        tumbling_agg(_event_stream(spark, sf_dir)),
        "stream_window_topk_out", "complete")
    # A NULL event type is contentless for a per-type leaderboard, and
    # it sits inside the rank's TIEBREAK: ORDER BY event_type ASC puts
    # NULL first in Spark but last in DuckDB, so a NULL-type group
    # shifts every rank below it differently per engine. Excluded on
    # both sides (policy (7): contentless rows out before ordering).
    agg = agg.filter(F.col("event_type").isNotNull())
    w = (Window.partitionBy("win_start")
         .orderBy(F.desc("n"), F.asc("event_type")))
    return (agg.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= STREAM_TOPK)
            .select("win_start", "event_type", "n", "rank"))


ORACLE_STREAM_WINDOW_TOPK = f"""
WITH agg AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
           count(*) AS n
    FROM {STREAM_EVENTS_SQL} events
    WHERE event_type IS NOT NULL
    GROUP BY 1, 2),
ranked AS (
    SELECT win_start, event_type, n,
           CAST(row_number() OVER (PARTITION BY win_start
                ORDER BY n DESC, event_type ASC) AS BIGINT) AS rank
    FROM agg)
SELECT win_start, event_type, n, rank
FROM ranked WHERE rank <= {STREAM_TOPK}
"""


# --- stream-stream LEFT OUTER interval join ------------------------------

OUTER_WM = "15 minutes"          # watermark delay on both sides
OUTER_WM_SECONDS = 900


def stream_pair_join_outer(left: DataFrame, right: DataFrame,
                           follow_seconds: int = FOLLOW_SECONDS
                           ) -> DataFrame:
    """LEFT OUTER form of the watermarked interval join: events with no
    follow-up within ``follow_seconds`` surface as null-extended rows —
    the streaming "abandonment detector" (no confirmation after a
    click, no heartbeat after a start). Unmatched rows can only emit
    once the watermark PROVES no future match exists, i.e. when the
    left row's state is evicted at wm > l_ts + follow; rows younger
    than that at end-of-input stay in state, never emitted.
    NULL join identities gated out of both inputs — see
    ``stream_pair_join``."""
    left = left.filter(F.col("user_id").isNotNull())
    right = right.filter(F.col("user_id").isNotNull())
    l = left.select(F.col("user_id").alias("l_user"),
                    F.col("event_id").alias("l_id"),
                    F.col("ts").alias("l_ts")).withWatermark("l_ts", OUTER_WM)
    r = right.select(F.col("user_id").alias("r_user"),
                     F.col("event_id").alias("r_id"),
                     F.col("ts").alias("r_ts")).withWatermark("r_ts", OUTER_WM)
    j = l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts")
           + F.expr(f"INTERVAL {follow_seconds} SECONDS")),
        "left_outer")
    return j.select(
        F.col("l_user").alias("user_id"), "l_id",
        F.coalesce("r_id", F.lit(-1)).alias("r_id"),
        F.coalesce(F.col("r_ts").cast("long") - F.col("l_ts").cast("long"),
                   F.lit(-1)).cast("long").alias("gap_sec"),
        F.col("r_id").isNull().alias("unmatched"))


def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join run to completion. The oracle
    reproduces Spark's END-OF-STREAM semantics exactly: the final
    watermark is max(event time) floored to MILLISECONDS (Spark's
    event-time stats are ms-resolution) minus the delay, and an
    unmatched left emits iff it was evictable at that watermark
    (l_ts + follow < wm — checked empirically: the availableNow run
    ends with a no-data micro-batch that flushes evictable state).
    Nulls are coalesced to -1 sentinels so the hash gate never
    compares engine-specific null encodings."""
    s1 = _event_stream(spark, sf_dir)
    s2 = _event_stream(spark, sf_dir)
    return _run_to_completion(
        stream_pair_join_outer(s1, s2), "stream_outer_join_out", "append")


ORACLE_STREAM_OUTER_JOIN = f"""
WITH ev AS {STREAM_EVENTS_KEYED_SQL},
wm AS (
    SELECT (epoch_us(max(ts)) // 1000) * 1000
           - {OUTER_WM_SECONDS} * 1000000 AS wm_us
    FROM ev),
m AS (
    SELECT l.user_id, l.event_id AS l_id, l.ts AS l_ts,
           r.event_id AS r_id,
           CAST(floor(epoch(r.ts)) AS BIGINT)
             - CAST(floor(epoch(l.ts)) AS BIGINT) AS gap_sec
    FROM ev l JOIN ev r
      ON l.user_id = r.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL {FOLLOW_SECONDS} SECONDS)
SELECT user_id, l_id, r_id, gap_sec, FALSE AS unmatched FROM m
UNION ALL
SELECT l.user_id, l.event_id AS l_id, -1 AS r_id,
       CAST(-1 AS BIGINT) AS gap_sec, TRUE AS unmatched
FROM ev l CROSS JOIN wm
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.l_id = l.event_id)
  AND epoch_us(l.ts) + {FOLLOW_SECONDS} * 1000000 < wm.wm_us
"""


# --- stream enrichment against the versioned (SCD2) dimension -----------

def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join against the VERSIONED dimension: each
    streamed event picks the SCD2 segment interval covering its event
    time (valid_from <= ts < valid_to) — the enrichment shape when the
    dimension has history, where joining the CURRENT snapshot
    (`q_stream_enrich`'s shape) would backfill new attributes onto old
    events. Aggregated per (segment VERSION, event type) — how deep
    into their churn sequence users are when each activity happens
    (the covering segment's type necessarily equals the event's own
    type here, since the dimension derives from the same stream, so
    version is the informative attribute).

    The static side is re-planned per micro-batch, so a dimension
    update between batches is picked up automatically — the standard
    Spark pattern for slowly-changing enrichment. The interval
    condition makes this a broadcast range join per batch: the dim is
    versions-sized (small), the stream side never shuffles."""
    from ..operators.relational import q_scd2_history

    dim = q_scd2_history(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("seg_type"),
        "valid_from", "valid_to", "version")
    stream = _event_stream(spark, sf_dir)
    joined = stream.join(
        F.broadcast(dim),
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("ts") < F.col("valid_to")))
    agg = (joined.groupBy("version", "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 1e6)).cast("long")
                .alias("sum_value_micro")))
    return _run_to_completion(agg, "stream_scd2_enrich_out", "complete")


from ..operators.relational import SCD2_SENTINEL as _SCD2_SENTINEL
from ..operators.relational import EVENTS_US as _EVENTS_US
from ..operators.relational import SCD2_STARTS_SQL as _SCD2_STARTS_SQL

ORACLE_STREAM_SCD2_ENRICH = f"""
WITH ev AS {_EVENTS_US},
starts AS (
    SELECT user_id, event_type AS seg_type, ts AS valid_from, event_id
    FROM ({_SCD2_STARTS_SQL}) runs),
dim AS (
    SELECT user_id, seg_type, valid_from,
           coalesce(lead(valid_from) OVER (PARTITION BY user_id
                    ORDER BY valid_from, event_id),
                    TIMESTAMP '{_SCD2_SENTINEL}') AS valid_to,
           CAST(row_number() OVER (PARTITION BY user_id
                ORDER BY valid_from, event_id) AS BIGINT) AS version
    FROM starts)
SELECT d.version, e.event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
           AS sum_value_micro
-- the epoch gate applies to the STREAM side only: the dimension is a
-- batch table (q_scd2_history) and keeps pre-epoch history versions
FROM (SELECT * FROM ev WHERE ts >= TIMESTAMP '1970-01-01') e JOIN dim d
  ON e.user_id = d.user_id
 AND d.valid_from <= e.ts AND e.ts < d.valid_to
GROUP BY 1, 2
"""


# --- stream-stream FULL OUTER interval join ------------------------------

def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER form of the watermarked interval join — both
    "abandoned" lefts (no follow-up within the window) AND "orphan"
    rights (no predecessor within the window) surface as null-extended
    rows once the watermark proves their partner cannot arrive. The
    eviction bounds differ per side and the oracle reproduces both:
    a LEFT row waits until wm > l_ts + follow, STRICTLY (a matching
    right could be up to follow later), while a RIGHT row is safe as
    soon as wm REACHES r_ts — emit iff r_ts <= wm, non-strict (its
    matches are strictly EARLIER events, which the watermark already
    excludes). Both boundaries are pinned at exact equality by
    crafted-fixture tests (``test_stream_full_outer_right_eviction_
    boundary`` probes wm and wm+1ms). Same ms-floored end-of-stream
    watermark and -1 sentinels as ``q_stream_outer_join``.
    NULL join identities gated out of both inputs (and of the
    oracle's watermark base) — empirically Spark's FULL OUTER
    stream-stream join MATCHES two NULL-keyed rows (binary state-
    key equality) while the inner variant and batch `=` do not;
    see ``stream_pair_join``."""
    l = _event_stream(spark, sf_dir)\
        .filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_ts")).withWatermark("l_ts", OUTER_WM)
    r = _event_stream(spark, sf_dir)\
        .filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts")).withWatermark("r_ts", OUTER_WM)
    j = l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts")
           + F.expr(f"INTERVAL {FOLLOW_SECONDS} SECONDS")),
        "full_outer")
    out = j.select(
        F.coalesce("l_user", "r_user").alias("user_id"),
        F.coalesce("l_id", F.lit(-1)).alias("l_id"),
        F.coalesce("r_id", F.lit(-1)).alias("r_id"),
        F.coalesce(F.col("r_ts").cast("long") - F.col("l_ts").cast("long"),
                   F.lit(-1)).cast("long").alias("gap_sec"))
    return _run_to_completion(out, "stream_full_outer_out", "append")


ORACLE_STREAM_FULL_OUTER_JOIN = f"""
WITH ev AS {STREAM_EVENTS_KEYED_SQL},
wm AS (
    SELECT (epoch_us(max(ts)) // 1000) * 1000
           - {OUTER_WM_SECONDS} * 1000000 AS wm_us
    FROM ev),
m AS (
    SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
           CAST(floor(epoch(r.ts)) AS BIGINT)
             - CAST(floor(epoch(l.ts)) AS BIGINT) AS gap_sec
    FROM ev l JOIN ev r
      ON l.user_id = r.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL {FOLLOW_SECONDS} SECONDS)
SELECT user_id, l_id, r_id, gap_sec FROM m
UNION ALL
SELECT l.user_id, l.event_id, -1, CAST(-1 AS BIGINT)
FROM ev l CROSS JOIN wm
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.l_id = l.event_id)
  AND epoch_us(l.ts) + {FOLLOW_SECONDS} * 1000000 < wm.wm_us
UNION ALL
SELECT r.user_id, -1, r.event_id, CAST(-1 AS BIGINT)
FROM ev r CROSS JOIN wm
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.r_id = r.event_id)
  AND epoch_us(r.ts) <= wm.wm_us
"""


# --- streaming text-ingest quality gate (documents modality) -------------
#
# Every prior streaming operator consumes the EVENTS feed; a training
# pipeline's other continuous input is the DOCUMENT crawl. The gate a
# crawl ingest runs per micro-batch is the quality filter — stateless
# map + filter, so the streaming form must emit EXACTLY the batch
# survivor set (no watermark, no state), which makes it fully
# oracle-checkable.


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet (shared dir shim +
    batch-peeked cached schema — `_table_stream_dir`/`_peek_schema`,
    the same machinery as the events stream). No timestamp column →
    no epoch gate / ns normalization; the quality gate is pure
    content math."""
    _ensure_session_confs(spark)
    return (spark.readStream
            .schema(_peek_schema(spark, f"{sf_dir}/documents.parquet"))
            .parquet(_table_stream_dir(sf_dir, "documents")))


def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality gate as a STREAMING ingest stage: score each
    arriving document with the SHARED text_quality formula
    (``operators.pipeline._quality_survivors`` applied to the stream —
    one definition, so the batch pipeline and the continuous ingest
    cannot disagree about who survives) and append survivors. Output
    ≡ the batch survivor set, hash-checked by the oracle; stateless,
    so exactly-once is free (no state store, no watermark)."""
    from ..operators.pipeline import _quality_survivors

    stream = _doc_stream(spark, sf_dir)
    return _run_to_completion(
        _quality_survivors(spark, sf_dir, docs=stream),
        "stream_quality_gate_out", "append")


def _oracle_stream_quality_gate() -> str:
    from ..functions.exact import ieee_round_sql
    from ..operators.pipeline import QUALITY_THRESHOLD
    from ..operators.pipeline import _SCORE_SQL

    return f"""
WITH dq AS (SELECT doc_id, lang, string_split(text, ' ') AS tokens, text
            FROM documents)
SELECT doc_id, lang, CAST(len(tokens) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, lang, tokens,
             {ieee_round_sql(_SCORE_SQL, 6)} AS score
      FROM dq)
WHERE score >= {QUALITY_THRESHOLD}
"""


ORACLE_STREAM_QUALITY_GATE = _oracle_stream_quality_gate()


# --- streaming ingest maintains the persisted LSH index -------------------
#
# The composition VERDICT r09 #6 asked for: the quality-gated document
# stream APPENDS to the persisted band index per micro-batch
# (foreachBatch -> append_lsh_index), then the per-ingest match job
# reads the maintained index — "continuous ingest maintains the
# indexes" as a pinned, oracle-backed job instead of prose.


def _ingest_batch_dir(spark: SparkSession, sf_dir: str) -> str:
    """Two-file parquet layout of the ingest batch slice
    (doc_id % NEW_BATCH_MOD == 0) so the file source delivers it as TWO
    micro-batches under maxFilesPerTrigger=1 — the multi-batch shim for
    the lifecycle-ingest stream (a production stream reads a log
    directory or Kafka; the fixture is one file = one batch, which
    would make the per-micro-batch append claim vacuous). Written once
    per corpus STATE: the directory name carries the documents input's
    (mtime_ns, size), so a rewritten fixture gets a fresh layout
    instead of streaming stale files (the ``_schema_cache_key``
    staleness discipline; on stat failure ``corpus_state`` already
    warns about path-only degradation)."""
    import os

    from ..operators.dedup import NEW_BATCH_MOD
    from ..sources.tables import load_table

    sf_abs = os.path.abspath(sf_dir)
    st = corpus_state(sf_abs, spark)
    state = "" if st is None else f"_{st[0]}_{st[1]}"
    d = f"/tmp/ncs_stream/{_dir_slug(sf_abs)}_docbatch{state}"
    if not os.path.exists(f"{d}/_SUCCESS"):
        (load_table(spark, sf_dir, "documents")
         .filter(F.col("doc_id") % NEW_BATCH_MOD == 0)
         .repartition(2)
         .write.mode("overwrite").parquet(d))
    return d


def q_stream_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest MAINTAINS the persisted LSH index: the
    document stream is quality-gated with the SHARED formula
    (``_quality_survivors`` — one definition, so the continuous ingest
    and the batch pipeline cannot disagree about who enters the
    corpus), each surviving micro-batch is APPENDED to the persisted
    band index inside ``foreachBatch`` (``append_lsh_index`` —
    batch-proportional bucketed appends honoring the stored bucket
    spec, the corpus never rewrites), and the per-ingest match job
    then reads the maintained index (zero exchange on the index side).

    Batch-equivalence oracle: the final pair set ≡ the batch form over
    (pre-batch corpus ∪ quality-surviving batch) — the incremental-LSH
    oracle with its corpus CTE swapped for the gated union. Pairs
    between a surviving batch doc and a REJECTED batch doc must not
    appear (the rejected doc never entered the corpus) — that is the
    composition property this row adjudicates.

    Exactly-once story, test-pinned in test_streaming_extra.py: the
    checkpoint gives file-level exactly-once across restarts (a
    restarted stream appends only unseen batches — checkpoint/restart
    parity), and WITHIN-batch append retries (at-least-once delivery)
    are output-invariant through the match's pair-set dedup
    (``_batch_index_candidates.dropDuplicates``), so the sink needs no
    transactional table format for CORRECTNESS — only for storage
    hygiene (duplicate band rows until the next compaction/rebuild).

    Epoch state: the pre-batch index is (re)built fresh per invocation
    (the registry self-containment idiom, as ``dedup_persisted_lsh``);
    production runs build per refresh / this job per ingest tick. On a
    duplicate-id corpus the eager build fails loud with the pinned PK
    error before any stream starts; the returned plan additionally
    carries the doc_id gate on the raw pruned id scan."""
    import tempfile

    from ..operators.dedup import (NEW_BATCH_MOD, append_lsh_index,
                                   build_lsh_index, match_lsh_index)
    from ..operators.pipeline import _quality_survivors
    from ..sources.tables import attach_pk_gate, load_table

    _ensure_session_confs(spark)
    table = build_lsh_index(spark, sf_dir, old_only=True)
    batch_dir = _ingest_batch_dir(spark, sf_dir)
    stream = (spark.readStream
              .schema(_peek_schema(spark, batch_dir))
              .option("maxFilesPerTrigger", "1")
              .parquet(batch_dir))
    gated = _quality_survivors(spark, sf_dir, docs=stream, full_row=True)

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        append_lsh_index(batch.sparkSession, table, batch)

    cp = tempfile.mkdtemp(prefix="ncs_lsh_ingest_cp_")
    (gated.writeStream.foreachBatch(ingest_batch)
     .outputMode("append")
     .option("checkpointLocation", cp)
     .trigger(availableNow=True)
     .start().awaitTermination())
    # foreachBatch runs under a CLONED session; the appends it wrote
    # are invisible to THIS session's cached table relation (stale
    # file listing) until an explicit refresh — measured: a parent
    # session that had read the table pre-stream counted the old rows
    # after the stream. Serving from a stale index would silently drop
    # this ingest's pairs.
    spark.catalog.refreshTable(table)

    docs = load_table(spark, sf_dir, "documents")
    corpus = (docs.filter(F.col("doc_id") % NEW_BATCH_MOD != 0)
              .unionByName(_quality_survivors(
                  spark, sf_dir,
                  docs=docs.filter(F.col("doc_id") % NEW_BATCH_MOD == 0),
                  full_row=True)))
    out = match_lsh_index(spark, sf_dir, table, docs=corpus)
    return attach_pk_gate(out, docs.select("doc_id"), "doc_id",
                          "the streaming LSH ingest")


def _oracle_stream_lsh_ingest() -> str:
    from ..functions.exact import ieee_round_sql
    from ..operators.dedup import (_NEW_FIRST_SQL, NEW_BATCH_MOD,
                                   _lsh_pairs_sql)
    from ..operators.pipeline import QUALITY_THRESHOLD, _SCORE_SQL

    # the incremental-LSH oracle over the INGESTED corpus: pre-batch
    # docs plus only the quality-surviving batch docs
    return f"""
WITH dq AS (SELECT doc_id, lang, string_split(text, ' ') AS tokens, text
            FROM documents),
qsurv AS (
    SELECT doc_id
    FROM (SELECT doc_id, {ieee_round_sql(_SCORE_SQL, 6)} AS score FROM dq)
    WHERE score >= {QUALITY_THRESHOLD}),
corpus AS (
    SELECT * FROM documents WHERE doc_id % {NEW_BATCH_MOD} != 0
    UNION ALL
    SELECT d.* FROM documents d JOIN qsurv USING (doc_id)
    WHERE d.doc_id % {NEW_BATCH_MOD} = 0),
{_lsh_pairs_sql("corpus")}
{_NEW_FIRST_SQL}"""


ORACLE_STREAM_LSH_INGEST = _oracle_stream_lsh_ingest()


def q_stream_components_maintain(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Continuous ingest maintains the persisted COMPONENTS table —
    the second half of the streaming-to-lifecycle composition: per
    micro-batch, (1) append the tick's docs to the persisted band
    index, (2) match ONLY the tick against the maintained index
    (``match_index_pairs_for_tick`` — per-tick cost tracks the tick;
    its relaxed keep rule surfaces cross-tick new×new pairs from the
    later endpoint, the pair's only discoverable side), (3) refresh
    the components table with the tick's edges (star-contracted
    write-back, so the NEXT tick contracts this tick's merges). The
    final table is the full post-ingest membership — the SAME oracle
    as the batch amortized update (``dedup_components_update``),
    which is the batch-equivalence claim: N ticks of
    append+match+refresh ≡ one batch update ≡ the full recompute.

    The tick loop IS the label-stability argument made operational:
    refresh write-backs between ticks are exactly the refresh-loop
    idempotence the lifecycle pinned in
    test_components_refresh_loop — here it runs under foreachBatch
    with cloned sessions (both tables refreshTable'd per tick and at
    the end: the clone-write staleness hazard found by
    ``q_stream_lsh_ingest``). No quality gate: the components
    lifecycle clusters the whole corpus, matching its oracle. On a
    duplicate-id corpus the eager pre-batch builds fail loud with the
    pinned PK error before any stream starts."""
    import tempfile

    from ..operators.dedup import (_component_sizes, append_lsh_index,
                                   build_components_table,
                                   build_lsh_index, components_table,
                                   match_index_pairs_for_tick,
                                   refresh_components_table)

    _ensure_session_confs(spark)
    lsh_table = build_lsh_index(spark, sf_dir, old_only=True)
    cc_table = build_components_table(
        spark, sf_dir, table=components_table(sf_dir, spark) + "_stream")
    batch_dir = _ingest_batch_dir(spark, sf_dir)
    stream = (spark.readStream
              .schema(_peek_schema(spark, batch_dir))
              .option("maxFilesPerTrigger", "1")
              .parquet(batch_dir))

    def tick(batch: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import _doc_tokens

        sess = batch.sparkSession
        append_lsh_index(sess, lsh_table, batch)
        # clone sessions cache table relations independently; each
        # tick must see the prior tick's appends and write-backs
        sess.catalog.refreshTable(lsh_table)
        sess.catalog.refreshTable(cc_table)
        # verify-side token lookup through the pinned token cache; each
        # tick's session is a new object, so the tick re-pins its own
        # handle (one corpus tokenize per tick)
        toks = _doc_tokens(sess, sf_dir)
        pairs = match_index_pairs_for_tick(sess, lsh_table, batch, toks)
        refresh_components_table(sess, sf_dir, cc_table,
                                 batch_pairs=pairs)

    cp = tempfile.mkdtemp(prefix="ncs_cc_maintain_cp_")
    (stream.writeStream.foreachBatch(tick)
     .outputMode("append")
     .option("checkpointLocation", cp)
     .trigger(availableNow=True)
     .start().awaitTermination())
    spark.catalog.refreshTable(cc_table)
    return _component_sizes(spark.table(cc_table).select(
        F.col("doc_id").alias("node"),
        F.col("component_id").alias("component")))
