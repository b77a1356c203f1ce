"""The benchmark workloads and the per-layer probes of the traced run.

A workload owns its generated corpus and defines:

- ``prepare``: state the operations need, built once per session;
- ``op``: one operation, ending in a ``sink``: ``noop`` when timed,
  ``collect`` for the passes whose output is checked;
- ``oracle_sql``: the DuckDB query a collected output must equal.

Each is a closed loop with one client: the next operation starts when
the previous one has finished.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F

from ngrams_collocations_hadoop_spark.operators import collocations as co
from ngrams_collocations_hadoop_spark.operators import dedup
from ngrams_collocations_hadoop_spark.registry import ORACLES, QUERIES
from ngrams_collocations_hadoop_spark.sources.ngram_source import (
    bigram_records, unigram_records)
from ngrams_collocations_hadoop_spark.sources.tables import (
    load_table, stopwords_df)

from tests.util_diff import canon, duck_con

from .corpus import generate
from .spans import Tracer


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect(df) -> pd.DataFrame:
    return df.toPandas()


def timed(fn, *args) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def tree_files(path: str) -> dict[str, int]:
    """{file path: size} under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def oracle_frame(corpus_dir: str, sql: str, temp_dir: str) -> pd.DataFrame:
    """Run oracle ``sql`` in DuckDB over the corpus' tables."""
    con = duck_con(corpus_dir)
    try:
        # spill inside the run directory; keep stdout free of progress bars
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute("SET enable_progress_bar = false")
        return con.execute(sql).df()
    finally:
        con.close()


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """The repository's oracle comparison (``tests.util_diff``): same
    rows and columns, order-insensitive, floats to 6 decimals."""
    try:
        assert len(got) == len(want)
        assert sorted(got.columns) == sorted(want.columns)
        pd.testing.assert_frame_equal(canon(got), canon(want),
                                      check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-6)
    except AssertionError:
        return False
    return True


class Workload:
    name = ""
    work_unit = ""
    corpus_kwargs: dict = {}

    def __init__(self, seed: int, corpus_dir: str) -> None:
        self.dir = corpus_dir
        self.corpus = generate(seed, corpus_dir, **self.corpus_kwargs)
        self.input_bytes = os.path.getsize(f"{corpus_dir}/documents.parquet")

    def prepare(self, spark, tracer: Tracer) -> None:
        pass

    def op(self, spark, tracer: Tracer, sink=noop) -> dict:
        """Run one operation; returns {"latency_s", "work", "plan_s",
        "out"}, where "out" is what ``sink`` returned."""
        raise NotImplementedError

    def oracle_sql(self) -> str:
        raise NotImplementedError


class CollocZipf(Workload):
    """The flagship Top-K LLR collocations on a Zipfian corpus."""
    name = "colloc_zipf"
    work_unit = "input tokens"
    corpus_kwargs = {"n_docs": 2_000, "dup_share": 0.05}

    def op(self, spark, tracer, sink=noop):
        t0 = time.perf_counter()
        with tracer.span("registry.colloc_topk", "registry"):
            df = QUERIES["colloc_topk"](spark, self.dir)
        t1 = time.perf_counter()
        with tracer.span("session.execute", "session"):
            out = sink(df)
        return {"latency_s": time.perf_counter() - t0, "plan_s": t1 - t0,
                "work": self.corpus.tokens, "out": out}

    def oracle_sql(self):
        return ORACLES["colloc_topk"]


class LshIndex:
    """The persisted LSH index lifecycle on one corpus: build the
    pre-batch index, then append the doc_id % 5 == 0 batch and match it.

    ``restore`` removes the files the last append added (not timed), so
    repeated cycles all append to the same pre-batch index."""

    def __init__(self, corpus_dir: str) -> None:
        self.dir = corpus_dir
        self.table = None
        self.prebatch_files: dict[str, int] = {}

    def _table_dir(self, spark) -> str:
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return os.path.join(wh, self.table.lower())

    def files(self, spark) -> dict[str, int]:
        return tree_files(self._table_dir(spark))

    def build(self, spark, tracer: Tracer) -> float:
        with tracer.span("operators.dedup.build", "operators.dedup"):
            t, self.table = timed(dedup.build_lsh_index, spark, self.dir, True)
        self.prebatch_files = self.files(spark)
        return t

    def cycle(self, spark, tracer: Tracer, sink) -> dict:
        """append + match; the match is materialized by ``sink``."""
        batch = (load_table(spark, self.dir, "documents")
                 .filter(F.col("doc_id") % dedup.NEW_BATCH_MOD == 0))
        t0 = time.perf_counter()
        with tracer.span("operators.dedup.append", "operators.dedup"):
            dedup.append_lsh_index(spark, self.table, batch)
        t1 = time.perf_counter()
        with tracer.span("operators.dedup.match_plan", "registry"):
            df = dedup.match_lsh_index(spark, self.dir, self.table)
        t2 = time.perf_counter()
        with tracer.span("session.execute", "session"):
            out = sink(df)
        t3 = time.perf_counter()
        return {"latency_s": t3 - t0, "plan_s": t2 - t1,
                "append_s": t1 - t0, "match_s": t3 - t1, "out": out}

    def restore(self, spark) -> None:
        for p in self.files(spark):
            if p not in self.prebatch_files:
                os.remove(p)
        spark.catalog.refreshTable(self.table)


class DedupIngest(Workload):
    """Writes beside reads: one operation is one ingest cycle (append +
    match) against the pre-batch index the session built once."""
    name = "dedup_ingest"
    work_unit = "ingested batch docs"
    corpus_kwargs = {"n_docs": 1_000, "min_len": 80, "max_len": 160,
                     "dup_share": 0.05}

    def __init__(self, seed, corpus_dir):
        super().__init__(seed, corpus_dir)
        self.index = LshIndex(corpus_dir)
        self.batch_docs = len(range(0, self.corpus.docs, dedup.NEW_BATCH_MOD))

    def prepare(self, spark, tracer):
        self.index.build(spark, tracer)

    def op(self, spark, tracer, sink=noop):
        r = self.index.cycle(spark, tracer, sink)
        self.index.restore(spark)
        return {**r, "work": self.batch_docs}

    def oracle_sql(self):
        return dedup.ORACLE_DEDUP_PERSISTED_LSH


WORKLOADS = {w.name: w for w in (CollocZipf, DedupIngest)}


# --- per-layer probes of the traced run ---------------------------------

def colloc_prefix_probe(spark, corpus_dir: str, tracer: Tracer) -> dict:
    """Materialize successive prefixes of the flagship pipeline to
    ``noop``; each layer's self time is its prefix minus the previous
    prefix, so a layer cheaper than the run-to-run noise can read slightly
    negative. One untimed run of the whole pipeline first warms the JVM;
    each prefix is then timed twice and the faster run kept.
    Row counts come from separate count jobs (not timed)."""
    stop = stopwords_df(spark)
    raw = [unigram_records(spark, corpus_dir), bigram_records(spark, corpus_dir)]
    clean = [co.clean_unigrams(raw[0], stop), co.clean_bigrams(raw[1], stop)]
    c1, c12 = co.unigram_counts(clean[0]), co.bigram_counts(clean[1])
    totals = c1.groupBy("lang", "decade").agg(F.sum("c1").alias("n_total"))
    scored = co.score_collocations(c12, c1, totals)
    top = co.top_collocations(scored)
    prefixes = [("sources.records", "sources", raw),
                ("functions.clean", "functions", clean),
                ("operators.colloc.count", "operators.colloc", [c1, c12]),
                ("operators.colloc.score", "operators.colloc", [scored]),
                ("operators.colloc.topk", "operators.colloc", [top])]
    noop(top)
    prefix_s = []
    for name, layer, frames in prefixes:
        with tracer.span(name, layer):
            prefix_s.append(min(sum(timed(noop, df)[0] for df in frames)
                                for _ in range(2)))
    self_s = [prefix_s[0]] + [b - a for a, b in zip(prefix_s, prefix_s[1:])]
    raw_rows = sum(df.count() for df in raw)
    kept_rows = sum(df.count() for df in clean)
    c12_keys = c12.count()
    return {
        "sources.records_s": self_s[0],
        "sources.records_rows": raw_rows,
        "functions.clean_s": self_s[1],
        "functions.clean_keep_ratio": kept_rows / raw_rows,
        "operators.colloc.count_s": self_s[2],
        "operators.colloc.c12_keys": c12_keys,
        "operators.colloc.score_s": self_s[3],
        "operators.colloc.scored_ratio": scored.count() / c12_keys,
        "operators.colloc.topk_s": self_s[4],
    }


def sql_surface_probe(spark, corpus_dir: str, tracer: Tracer) -> dict:
    """The flagship through the Spark SQL surface: its first run in the
    session, after the DataFrame surface has warmed the JVM."""
    with tracer.span("sql_api.colloc_topk_sql", "sql_api"):
        t, _ = timed(noop, QUERIES["colloc_topk_sql"](spark, corpus_dir))
    return {"registry.colloc_topk_sql_s": t}


def dedup_probe(spark, work: Workload, tracer: Tracer) -> dict:
    """One build + append + match cycle of the persisted LSH index on
    ``work``'s corpus (the index is rebuilt), with planted-pair recall of
    the collected match."""
    index = LshIndex(work.dir)
    build_s = index.build(spark, tracer)
    r = index.cycle(spark, tracer, collect)
    files = index.files(spark)
    index.restore(spark)
    return {
        "operators.dedup.build_s": build_s,
        "operators.dedup.append_s": r["append_s"],
        "operators.dedup.match_s": r["match_s"],
        "operators.dedup.planted_recall": planted_recall(work, r["out"]),
        "sources.storage.index_files": len(files),
        "sources.storage.index_bytes": sum(files.values()),
        "sources.storage.stored_bytes_per_input_byte":
            sum(files.values()) / work.input_bytes,
    }


def planted_recall(work: Workload, matched: pd.DataFrame) -> float:
    """Verified planted pairs / planted pairs that touch the batch."""
    mod = dedup.NEW_BATCH_MOD
    planted = {p for p in work.corpus.planted_pairs
               if p[0] % mod == 0 or p[1] % mod == 0}
    found = {(min(a, b), max(a, b))
             for a, b in zip(matched["doc_new"], matched["doc_match"])}
    return len(planted & found) / len(planted)
