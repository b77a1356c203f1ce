"""End-to-end training-data preparation: the composed pipeline a
100 TB corpus actually runs — quality filter → near-dup removal (LSH
clusters, keep-one) → context-window packing — as ONE lazy DAG with a
single recursive-CTE DuckDB oracle.

This is the composition proof for the engine's training-data operators:
each stage is the registry operator re-used verbatim (same expressions,
same constants), so a green hash here certifies that the pieces
compose, not just that they work in isolation.

Scale shape: quality scoring is map-side; the dedup stage is the
band-join LSH pipeline (no quadratic work) restricted to quality
survivors; keep-one is one shuffle anti-join; packing is one window
exchange per lang. Nothing materializes between stages — Catalyst sees
the whole plan and prunes columns straight through to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.exact import ieee_round, ieee_round_sql, uavg
from .dedup import (
    JACCARD_THRESHOLD,
    _DROPPED_SQL,
    _components_over,
    _edges,
    _keep_one,
    _lsh_edges_sql,
    _lsh_pairs_sql,
    _minhash_lsh_pair_rows,
)
from .textstats import _CORE_STOP_LIST
from .textstats import PACK_CTX

# Quality-score expression shared by both composed-pipeline oracles —
# imported from textstats (ONE definition of the formula package-wide:
# the score feeds a >= threshold survivorship filter here, so a copy
# that drifted from text_quality's would silently disagree about which
# documents survive). Rounded through ieee_round_sql, NOT round(): the
# score is a rational of token counts and can land exactly on a
# 6-decimal boundary, where the engines' round() disagree.
from .textstats import _QSCORE_FROM_TEXT_SQL as _SCORE_SQL


# Keep documents whose blended quality score (the text_quality formula,
# rounded to 6 dp in both engines) clears this bar — ~the corpus median
# on the fixtures, so both branches stay populated.
QUALITY_THRESHOLD = 0.6


def _quality_survivors(spark: SparkSession, sf_dir: str,
                       docs: DataFrame | None = None,
                       full_row: bool = False) -> DataFrame:
    """(doc_id, lang, n_tokens) of documents passing the quality bar —
    the text_quality score expression inlined (same formula, same
    rounding). ``docs`` overrides the documents source (the ingest
    pipeline passes its identity-resolved scan). ``full_row=True``
    returns the surviving documents with their ORIGINAL columns
    (text included) instead of the summary projection — the shape the
    streaming LSH ingest needs, since the surviving docs continue into
    tokenize/band stages."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    docs = docs.withColumn("tokens", F.split("text", " "))
    stop_arr = F.array(*[F.lit(w) for w in _CORE_STOP_LIST])
    n_tok = F.size("tokens")
    mean_len = (F.length("text") - n_tok + 1).cast("double") / n_tok
    stop_ratio = (F.size(F.filter("tokens",
                                  lambda t: F.array_contains(stop_arr, t)))
                  .cast("double") / n_tok)
    ttr = F.size(F.array_distinct("tokens")).cast("double") / n_tok
    score = ieee_round(F.least(mean_len / 10, F.lit(1.0)) * 0.3
                       + (1 - stop_ratio) * 0.3 + ttr * 0.4, 6)
    kept = docs.filter(score >= QUALITY_THRESHOLD)
    if full_row:
        return kept.drop("tokens")
    return kept.select("doc_id", "lang", n_tok.cast("long").alias("n_tokens"))


def q_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter → LSH near-dup keep-one → sequence packing,
    summarized per language: surviving docs, total tokens, and the
    number of PACK_CTX-token training sequences they pack into.

    Dedup runs among quality survivors (the standard order: no point
    clustering documents the quality gate already dropped): the LSH
    pair list is semi-filtered to survivors on both endpoints, then
    connected components + keep-one exactly as in ``dedup_keep_one_lsh``.
    """
    surv = _quality_survivors(spark, sf_dir)
    ids = surv.select("doc_id")
    pairs = (_minhash_lsh_pair_rows(spark, sf_dir)
             .join(ids.withColumnRenamed("doc_id", "doc_a"),
                   on="doc_a", how="left_semi")
             .join(ids.withColumnRenamed("doc_id", "doc_b"),
                   on="doc_b", how="left_semi"))
    kept = _keep_one(surv, _components_over(_edges(pairs)))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum("n_tokens").over(w)
    packed = kept.withColumn(
        "bin_id", F.floor((cum - F.col("n_tokens")) / PACK_CTX))
    return (packed.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 (F.max("bin_id") + 1).cast("long").alias("n_bins")))


# dedup runs among the quality survivors q: both endpoints must survive
_SURVIVOR_EDGES = """
      AND doc_a IN (SELECT doc_id FROM q)
      AND doc_b IN (SELECT doc_id FROM q)"""

ORACLE_TRAINING_PREP = f"""
WITH RECURSIVE dq AS (SELECT doc_id, lang, string_split(text, ' ') AS tokens, text
       FROM documents),
q AS (
    SELECT doc_id, lang, CAST(len(tokens) AS BIGINT) AS n_tokens
    FROM (
        SELECT doc_id, lang, tokens,
               {ieee_round_sql(_SCORE_SQL, 6)} AS score
        FROM dq)
    WHERE score >= {QUALITY_THRESHOLD}),{_lsh_edges_sql(_SURVIVOR_EDGES, materialized=True)},
{_DROPPED_SQL},
kept AS (
    SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
packed AS (
    SELECT lang, n_tokens,
           (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens) // {PACK_CTX} AS bin_id
    FROM kept)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(bin_id) + 1 AS BIGINT) AS n_bins
FROM packed GROUP BY lang
"""


# --- composed export pipeline: DSIR select -> shard layout -> manifest --

def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second composition proof, over the round-4 curation
    operators: DSIR-score every document, keep the top half per
    language (rank by importance weight, deterministic doc_id
    tiebreak), lay the survivors out into hashed export shards, and
    emit the per-shard manifest — count, token total, and an md5 of
    the exact doc order — i.e. what a training-export job hands to
    the tokenizer fleet. A green hash certifies score → select →
    layout compose end to end, with the manifest md5 pinning the
    byte-level writer order, not just aggregate counts.

    Scale shape: inherits DSIR's LM-join shape; selection is one
    per-lang window over scored docs; sharding re-uses the
    `text_shard_assign` plan (map-side hash + shard-partitioned
    manifest aggregation). One lazy DAG, nothing materialized between
    stages."""
    from .textstats import q_dsir_weights, shard_col

    w = q_dsir_weights(spark, sf_dir)
    rankw = (Window.partitionBy("lang")
             .orderBy(F.desc("dsir_logweight"), F.asc("doc_id")))
    langw = Window.partitionBy("lang")
    sel = (w.withColumn("rn", F.row_number().over(rankw))
           .withColumn("n_lang", F.count(F.lit(1)).over(langw))
           .filter(F.col("rn") * 2 <= F.col("n_lang")))
    placed = sel.withColumn("shard", shard_col())
    return (placed.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("total_tokens"),
                 F.md5(F.concat_ws(",", F.expr(
                     "transform(sort_array(collect_list(doc_id)), "
                     "x -> cast(x AS string))"))).alias("layout_md5")))


def _oracle_export_manifest() -> str:
    from .textstats import ORACLE_DSIR_WEIGHTS, SHARD_SQL

    return f"""
WITH dsir AS ({ORACLE_DSIR_WEIGHTS}),
ranked AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (PARTITION BY lang
               ORDER BY dsir_logweight DESC, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n_lang
    FROM dsir),
placed AS (
    SELECT doc_id, n_tokens, {SHARD_SQL} AS shard
    FROM ranked WHERE rn * 2 <= n_lang)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS layout_md5
FROM placed GROUP BY shard
"""


ORACLE_EXPORT_MANIFEST = _oracle_export_manifest()


# --- composed incremental-ingest pipeline -------------------------------
# new batch -> exact dedup vs corpus -> incremental LSH near-dedup ->
# quality gate -> shard layout. The continuous-crawl dual of
# q_training_prep: per-ingest cost tracks the BATCH (the incremental
# band join never generates old x old candidates), yet the decisions
# are corpus-aware.

def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summarize, per export shard, what survives ingesting the new
    batch (``doc_id % NEW_BATCH_MOD == 0``): identity resolution
    first, then exact duplicates of any corpus doc (or lower-id batch
    doc) drop; near-duplicates drop by the incremental-LSH pair list
    (matching an old doc, or the higher id of a new×new pair —
    keep-first); survivors pass the shared quality bar and land in
    md5 shards. ONE lazy DAG; every stage is the registry operator's
    expressions verbatim.

    Stage 0 is the doc_id identity gate (VERDICT r06 #3): the ingest
    is exactly where SCALING.md places resolution ("once at ingest,
    not per scan"), so the pipeline EMBODIES it —
    ``resolve_document_identity`` (resolve-and-continue; the keeper
    rule is content-deterministic and engine-shared, with
    ``document_id_violations`` available as the fail-loud audit)
    feeds every downstream stage, making all id-keyed multiplicities
    total even on an at-least-once/re-crawled feed. On a corpus that
    satisfies the PK precondition the resolve keeps every row
    (row_number = 1 everywhere), so the result is unchanged. In
    production the old slice is already resolved by prior ingests —
    the stage's shuffle is then batch-proportional; the registry form
    resolves the whole read so the query stays self-contained.

    Scale shape: resolution is one window over doc_id; exact dedup is
    a fingerprint-keyed join (new side tiny); near-dedup inherits the
    batch-sized band join of ``q_dedup_incremental_lsh``; quality is
    map-side; the shard summary is an N_SHARDS-bounded aggregate."""
    from ..sources.tables import resolve_document_identity
    from .dedup import NEW_BATCH_MOD, q_dedup_incremental_lsh
    from .textstats import shard_col

    # persist: the resolved batch feeds every stage (fingerprints,
    # LSH tokens, quality) — exactly what production does by WRITING
    # the resolution output once at ingest; without it the lazy DAG
    # re-runs the resolve aggregate once per consumer
    docs = resolve_document_identity(
        load_table(spark, sf_dir, "documents")).persist()
    fp = docs.select("doc_id", F.md5("text").alias("fp"))
    newfp = (fp.filter(F.col("doc_id") % NEW_BATCH_MOD == 0)
             .select(F.col("doc_id").alias("nid"), "fp"))
    exact_drop = (newfp.join(fp, on="fp")
                  .filter((F.col("doc_id") != F.col("nid"))
                          & ((F.col("doc_id") % NEW_BATCH_MOD != 0)
                             | (F.col("doc_id") < F.col("nid"))))
                  .select(F.col("nid").alias("doc_id")).distinct())
    pairs = q_dedup_incremental_lsh(spark, sf_dir, docs=docs)
    near_drop = (pairs.select(
        F.when(F.col("doc_match") % NEW_BATCH_MOD == 0, F.col("doc_match"))
        .otherwise(F.col("doc_new")).alias("doc_id")).distinct())
    dropped = exact_drop.union(near_drop).distinct()
    kept = (_quality_survivors(spark, sf_dir, docs=docs)
            .filter(F.col("doc_id") % NEW_BATCH_MOD == 0)
            .join(dropped, on="doc_id", how="left_anti"))
    return (kept.withColumn("shard", shard_col())
            .groupBy("shard")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens")))


def _oracle_ingest() -> str:
    from ..sources.tables import RESOLVE_DOCUMENTS_SQL
    from .dedup import NEW_BATCH_MOD
    from .textstats import SHARD_SQL

    # Stage 0 (identity gate) enters the oracle as a leading CTE that
    # every later stage reads instead of the base table — the inner
    # body's `documents` references are textually rebased onto it
    # (DuckDB forbids a CTE shadowing the table it reads, so the CTE
    # needs its own name; the word `documents` appears in the body
    # only as a table reference, asserted by the rebase count below).
    inner = f"""{_lsh_pairs_sql()},
dq AS (SELECT doc_id, lang, string_split(text, ' ') AS tokens, text
       FROM documents),
q AS (
    SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens
    FROM (
        SELECT doc_id, tokens,
               {ieee_round_sql(_SCORE_SQL, 6)} AS score
        FROM dq)
    WHERE score >= {QUALITY_THRESHOLD}),
exact_drop AS (
    SELECT DISTINCT n.doc_id
    FROM documents n JOIN documents o ON md5(o.text) = md5(n.text)
    WHERE n.doc_id % {NEW_BATCH_MOD} = 0 AND o.doc_id <> n.doc_id
      AND (o.doc_id % {NEW_BATCH_MOD} <> 0 OR o.doc_id < n.doc_id)),
near_drop AS (
    SELECT DISTINCT
           CASE WHEN doc_a % {NEW_BATCH_MOD} = 0
                 AND doc_b % {NEW_BATCH_MOD} = 0
                THEN greatest(doc_a, doc_b)
                WHEN doc_a % {NEW_BATCH_MOD} = 0 THEN doc_a
                ELSE doc_b END AS doc_id
    FROM lsh_pairs
    WHERE jaccard >= {JACCARD_THRESHOLD}
      AND (doc_a % {NEW_BATCH_MOD} = 0 OR doc_b % {NEW_BATCH_MOD} = 0)),
kept AS (
    SELECT q.doc_id, n_tokens FROM q
    WHERE q.doc_id % {NEW_BATCH_MOD} = 0
      AND q.doc_id NOT IN (SELECT doc_id FROM exact_drop)
      AND q.doc_id NOT IN (SELECT doc_id FROM near_drop))
SELECT {SHARD_SQL} AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM kept GROUP BY 1
"""
    rebased = inner.replace("documents", "documents_resolved")
    assert rebased.count("documents_resolved") == 4  # dq, lsh, exact x2
    return (f"WITH documents_resolved AS ({RESOLVE_DOCUMENTS_SQL}),\n"
            f"{rebased}")


ORACLE_INGEST_PIPELINE = _oracle_ingest()


# --- composed embedding-ingest pipeline ----------------------------------
# The embeddings twin of q_ingest_pipeline (VERDICT r07 #7): vec_id
# identity resolution -> finite-vector validity gate -> exact
# re-embed dedup -> per-label ingest stats. What a vector store runs
# before (re)building its ANN index.

def q_embed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest the embeddings feed: stage 0 resolves vec_id identity
    (``resolve_embedding_identity`` — the keeper rule is
    vector-content-deterministic and engine-shared, with
    ``embedding_id_violations`` as the fail-loud audit), stage 1
    drops invalid vectors (the finite/64-dim/nonzero gate every
    embedding operator assumes), stage 2 collapses exact re-embeds —
    identical vectors delivered under DIFFERENT ids, which identity
    resolution by construction cannot see — keyed on the same
    micro-quantized integer rendering the resolver orders by (exact
    in both engines; no float formatting anywhere), keeper = min
    vec_id. The per-label summary reports what survives each stage:
    vectors kept, exact re-embeds dropped, and the mean vector norm
    of the kept set (the drift statistic embedding feeds monitor).

    Scale shape: resolution is one hash aggregate on vec_id; the gate
    is map-side; re-embed dedup is one hash aggregate on the
    rendering key (map-side partial combine — the rendering is
    computed per row, never joined); the summary is a label-bounded
    aggregate. Nothing pairwise, nothing corpus².

    On a feed satisfying the vec_id PK contract stage 0 keeps every
    row, so the result is unchanged — same resolve-and-continue
    contract as ``q_ingest_pipeline`` stage 0."""
    from ..sources.tables import (_EMB_KEY_SPARK,
                                  resolve_embedding_identity)
    from .similarity import FINITE_EMB_COND

    emb = resolve_embedding_identity(
        load_table(spark, sf_dir, "embeddings"))
    gated = emb.filter(F.expr(FINITE_EMB_COND))
    norm = F.sqrt(F.expr(
        "aggregate(CAST(embedding AS ARRAY<DOUBLE>), 0D, "
        "(a, x) -> a + x * x)"))
    keyed = gated.select(
        "vec_id", "label", F.expr(_EMB_KEY_SPARK).alias("vkey"),
        norm.alias("norm"))
    kept = (keyed.groupBy("vkey")
            .agg(F.min(F.struct("vec_id", "label", "norm")).alias("_k"),
                 (F.count(F.lit(1)) - 1).alias("_extra"))
            .select(F.col("_k.label").alias("label"),
                    F.col("_k.norm").alias("norm"), "_extra"))
    return (kept.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.sum("_extra").cast("long").alias("n_reembeds_dropped"),
                 uavg("norm", scale=6, unit="1e6", fn="floor")
                 .alias("avg_norm"))
            .withColumn("label", F.col("label").cast("long")))


def _oracle_embed_ingest() -> str:
    from ..sources.tables import _EMB_KEY_DUCK, RESOLVE_EMBEDDINGS_SQL
    from .similarity import FINITE_EMB_COND_SQL
    from ..functions.exact import uavg_sql

    return f"""
WITH resolved AS ({RESOLVE_EMBEDDINGS_SQL}),
g AS (
    SELECT vec_id, label, {_EMB_KEY_DUCK} AS vkey,
           sqrt(list_dot_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[])) AS norm
    FROM resolved
    WHERE {FINITE_EMB_COND_SQL}),
kept AS (
    SELECT label, norm,
           count(*) OVER (PARTITION BY vkey) - 1 AS _extra,
           row_number() OVER (PARTITION BY vkey ORDER BY vec_id) AS _rn
    FROM g)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(_extra) AS BIGINT) AS n_reembeds_dropped,
       {uavg_sql("norm", scale=6, unit="1e6", fn="floor")} AS avg_norm
FROM kept WHERE _rn = 1 GROUP BY 1
"""


ORACLE_EMBED_INGEST = _oracle_embed_ingest()


# --- benchmark decontamination (train-side) ------------------------------

DECON_THRESH = 0.5   # drop a train doc when MORE than half its
                     # distinct shingles appear in the benchmark split


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the train-side mirror of
    `text_contamination` (which audits TEST docs): flag every TRAIN
    document whose distinct-shingle overlap with the benchmark (test
    split) exceeds DECON_THRESH, drop it, and emit the per-language
    accounting every data release publishes: train volume, dropped
    count, kept count, kept char mass, dropped fraction. Composes the
    shared split rule (`split_is_train`) and shingle construction
    (SHINGLE_N) verbatim, so the audit and the removal can't disagree
    about what "contaminated" means.

    Scale shape: shingles explode map-side; the benchmark side
    collapses to a DISTINCT shingle set before the join (the one big
    shuffle, keyed on the shingle); per-doc overlap is one aggregate;
    the accounting is lang-bounded. Train docs too short to shingle
    have nothing to leak — kept, contamination 0, in both engines
    (they re-enter via the docs-side left join, not the explode)."""
    from .textstats import SHINGLE_EXPR_SQL, split_is_train
    from ..sources.tables import fan_out

    docs = fan_out(
        load_table(spark, sf_dir, "documents")
        .withColumn("split", F.when(split_is_train(), F.lit("train"))
                    .otherwise(F.lit("test"))))
    sh = (docs.withColumn("toks", F.split("text", " "))
          .select("doc_id", "split",
                  F.explode(F.expr(SHINGLE_EXPR_SQL)).alias("shingle"))
          .dropDuplicates(["doc_id", "split", "shingle"]))
    bench = (sh.filter(F.col("split") == "test")
             .select("shingle").distinct()
             .withColumn("in_bench", F.lit(1)))
    cont = (sh.filter(F.col("split") == "train")
            .join(bench, on="shingle", how="left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"),
                 F.sum(F.coalesce("in_bench", F.lit(0))).alias("n_hit")))
    train = (docs.filter(F.col("split") == "train")
             .select("doc_id", "lang", "n_chars"))
    flagged = (train.join(cont, on="doc_id", how="left")
               .withColumn("dropped", F.coalesce(
                   F.try_divide(F.col("n_hit").cast("double"),
                                F.col("n_sh")), F.lit(0.0))
                   > F.lit(DECON_THRESH)))
    dropped_i = F.col("dropped").cast("int")
    return (flagged.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_train"),
                 F.sum(dropped_i).cast("long").alias("n_dropped"),
                 F.sum(1 - dropped_i).cast("long").alias("n_kept"),
                 F.sum(F.when(~F.col("dropped"), F.col("n_chars"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("kept_chars"),
                 ieee_round(F.try_divide(
                     F.sum(dropped_i).cast("double"),
                     F.count(F.lit(1))), 6).alias("dropped_frac")))


def _oracle_decontaminate() -> str:
    from .textstats import SHINGLE_LIST_DUCK, SPLIT_IS_TRAIN_SQL

    return f"""
WITH d AS (
    SELECT doc_id, lang, n_chars,
           CASE WHEN {SPLIT_IS_TRAIN_SQL}
                THEN 'train' ELSE 'test' END AS split,
           string_split(text, ' ') AS toks
    FROM documents),
sh AS (
    SELECT DISTINCT doc_id, split,
           unnest({SHINGLE_LIST_DUCK})
               AS shingle
    FROM d),
bench AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test'),
cont AS (
    SELECT sh.doc_id, count(*) AS n_sh,
           sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
    FROM sh LEFT JOIN bench b USING (shingle)
    WHERE sh.split = 'train'
    GROUP BY sh.doc_id),
flagged AS (
    SELECT d.lang, d.n_chars,
           coalesce(CAST(n_hit AS DOUBLE) / n_sh, 0E0)
               > {DECON_THRESH} AS dropped
    FROM d LEFT JOIN cont USING (doc_id)
    WHERE d.split = 'train')
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(sum(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN dropped THEN 0 ELSE n_chars END) AS BIGINT)
           AS kept_chars,
       {ieee_round_sql(
           "sum(CASE WHEN dropped THEN 1 ELSE 0 END)::DOUBLE / count(*)")}
           AS dropped_frac
FROM flagged
GROUP BY lang
"""


ORACLE_DECONTAMINATE = _oracle_decontaminate()
