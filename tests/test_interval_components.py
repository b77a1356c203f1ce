"""Crafted-input semantics for the interval/rollup operators, the
connected-components clustering, and BM25 scoring (the sf0.001
differential sweep in test_registry.py covers oracle parity; these pin
boundary behavior oracle hashes can't localize)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ngrams_collocations_hadoop_spark.operators.dedup import (
    connected_components,
)
from ngrams_collocations_hadoop_spark.operators.interval import (
    hypertable_rollup, range_join_follow_counts,
)
from ngrams_collocations_hadoop_spark.operators.textstats import bm25_scores


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts", "value"])


def test_range_join_window_boundaries(spark):
    t0 = _ts("2024-01-01T12:00:00")
    events = _events(spark, [
        (1, 7, "click", t0, 1.0),
        # strictly-after lower bound: same-instant purchase NOT counted
        (2, 7, "purchase", t0, 1.0),
        # inside the window
        (3, 7, "purchase", t0 + dt.timedelta(seconds=1), 1.0),
        # inclusive upper bound: exactly ts+600s IS counted
        (4, 7, "purchase", t0 + dt.timedelta(seconds=600), 1.0),
        # just outside
        (5, 7, "purchase", t0 + dt.timedelta(seconds=601), 1.0),
        # other user inside window: not counted
        (6, 8, "purchase", t0 + dt.timedelta(seconds=2), 1.0),
        # zero-match lead must still appear
        (7, 9, "click", t0, 1.0),
    ])
    got = {r["event_id"]: r["n_follow"]
           for r in range_join_follow_counts(events).collect()}
    assert got == {1: 2, 7: 0}


def test_range_join_matches_naive_form(spark, sf_small="/root/testdata/sf0.001"):
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    events = load_table(spark, sf_small, "events")
    bucketed = range_join_follow_counts(events)
    a = (events.filter(F.col("event_type") == "click")
         .select("event_id", "user_id", F.col("ts").alias("ts_a")))
    b = (events.filter(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("user_b"), F.col("ts").alias("ts_b")))
    naive = (a.join(b, on=(F.col("user_id") == F.col("user_b"))
                    & (F.col("ts_b") > F.col("ts_a"))
                    & (F.col("ts_b") <= F.col("ts_a")
                       + F.expr("INTERVAL 600 SECOND")), how="left")
             .groupBy("event_id", "user_id")
             .agg(F.count("ts_b").alias("n_follow")))
    assert sorted(map(tuple, bucketed.collect())) == \
        sorted(map(tuple, naive.collect()))


def test_hypertable_rollup_strata_are_consistent(spark):
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = hypertable_rollup(events).toPandas()
    total = out[out.resolution == "all"]
    per_day = (out[out.resolution == "day"]
               .groupby("event_type").n_events.sum())
    per_hour = (out[out.resolution == "hour"]
                .groupby("event_type").n_events.sum())
    for _, row in total.iterrows():
        assert per_day[row.event_type] == row.n_events
        assert per_hour[row.event_type] == row.n_events
    assert (total.bucket_ts == "").all()


def test_connected_components_crafted_graph(spark):
    # chain 1-2-3, pair 10-11, and 2-3 duplicated edge direction
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (10, 11)], ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in connected_components(edges)[0].collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # path graph 0-1-2-...-9: worst-case diameter for label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in connected_components(edges)[0].collect()}
    assert got == {i: 0 for i in range(10)}


def test_bm25_prefers_matching_docs(spark):
    docs = spark.createDataFrame(
        [(1, "join join join filter pad pad pad pad"),
         (2, "join pad pad pad pad pad pad pad"),
         (3, "pad pad pad pad pad pad pad pad")],
        ["doc_id", "text"])
    out = {r["doc_id"]: (r["bm25"], r["n_terms_matched"])
           for r in bm25_scores(docs).collect()}
    assert 3 not in out                      # no query term -> no row
    assert out[1][1] == 2 and out[2][1] == 1
    assert out[1][0] > out[2][0] > 0


def test_approx_sketches_accuracy(spark):
    from ngrams_collocations_hadoop_spark.operators.relational import (
        q_approx_sketches,
    )
    rows = q_approx_sketches(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        # The in-query within-bound booleans (the oracle checks these
        # as literal TRUE; here we check they actually hold).
        assert r["approx_users_within_rsd"]
        assert r["approx_p50_within_eps"]
        assert r["approx_p99_within_eps"]
        assert r["exact_users"] > 0
        assert r["exact_p50"] <= r["exact_p99"]


def test_stream_dedup_state_spans_micro_batches(spark):
    """With maxFilesPerTrigger=1 the duplicate copy of every event
    arrives in a LATER micro-batch; equality with single-delivery batch
    counts proves the dedup state persists across batches."""
    from ngrams_collocations_hadoop_spark.streaming.windows import (
        q_stream_dedup,
    )
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r["n"]
           for r in q_stream_dedup(spark, sf).collect()}
    exact = {r["event_type"]: r["n"]
             for r in load_table(spark, sf, "events")
             .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    assert got == exact


def test_doc_chunks_invariants(spark):
    """Chunking invariants on real fixtures: stride-aligned starts,
    full coverage (every token index falls inside >= 1 chunk), exact
    overlap of CHUNK_TOKENS - CHUNK_STRIDE between neighbors, and
    reconstruction (non-overlapped chunk prefixes concatenate back to
    the document)."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        CHUNK_STRIDE, CHUNK_TOKENS, q_doc_chunks,
    )
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    texts = {r["doc_id"]: r["text"]
             for r in load_table(spark, sf, "documents").collect()}
    chunks = {}
    for r in q_doc_chunks(spark, sf).collect():
        chunks.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["n_tokens"], r["chunk_text"]))
    assert set(chunks) == set(texts)
    for doc_id, ch in chunks.items():
        ch.sort()
        toks = texts[doc_id].split(" ")
        assert [c[0] for c in ch] == list(range(len(ch)))
        # coverage + sizes
        for cid, n, _text in ch[:-1]:
            assert n == min(CHUNK_TOKENS, len(toks) - cid * CHUNK_STRIDE)
        # reconstruction from stride prefixes
        rebuilt = []
        for cid, n, text in ch:
            rebuilt.extend(text.split(" ")[:CHUNK_STRIDE])
        assert rebuilt[:len(toks)] == toks


def test_pack_sequences_invariants(spark):
    """Packing invariants: per-lang offsets are a prefix sum in doc_id
    order, bins are contiguous from 0, and a doc spans a boundary iff
    its token interval crosses a PACK_CTX multiple."""
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        PACK_CTX, q_pack_sequences,
    )
    rows = q_pack_sequences(spark, "/root/testdata/sf0.001").collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            assert r["start_offset"] == cum
            assert r["bin_id"] == cum // PACK_CTX
            end = cum + r["n_tokens"] - 1
            assert r["spans_boundary"] == (cum // PACK_CTX != end // PACK_CTX)
            cum += r["n_tokens"]


def test_adamic_adar_crafted_graph(spark):
    """Path 1-2-3: the only wedge is (1,3) through center 2 (deg 2), so
    AA = 1/ln(2); existing edges never appear. Square 1-2-3-4 with
    diagonal 1-3: (2,4) has TWO common neighbors (1 and 3, both deg 3),
    AA = 2/ln(3); (1,3) is an edge, so excluded despite its wedges."""
    import math

    from ngrams_collocations_hadoop_spark.operators.dedup import adamic_adar

    path = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES (1L, 2L), "
                     "(2L, 3L)")
    out = {(r.doc_a, r.doc_b): (r.n_common, r.aa_score)
           for r in adamic_adar(path).collect()}
    assert set(out) == {(1, 3)}
    assert out[(1, 3)][0] == 1
    assert abs(out[(1, 3)][1] - 1 / math.log(2)) < 1e-6

    sq = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES (1L, 2L), "
                   "(2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L)")
    out = {(r.doc_a, r.doc_b): (r.n_common, r.aa_score)
           for r in adamic_adar(sq).collect()}
    assert (1, 3) not in out
    assert out[(2, 4)][0] == 2
    assert abs(out[(2, 4)][1] - 2 / math.log(3)) < 1e-6


def test_kcore_peels_chain_keeps_clique(spark):
    """K4 + a pendant chain hanging off node 4: every clique node has
    degree 3 inside the clique, so the 3-core is exactly the K4 —
    but the chain must peel ITERATIVELY (each round exposes the next
    pendant), which a single degree filter would get wrong."""
    from ngrams_collocations_hadoop_spark.operators.dedup import k_core

    edges = spark.sql(
        "SELECT col1 AS src, col2 AS dst FROM VALUES "
        "(1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),"  # K4
        "(4L,5L),(5L,6L),(6L,7L)")                           # chain
    out = {r.n: r.core_degree for r in k_core(edges, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    # single filter pass would keep node 5 (degree 2 < 3 -> no; use
    # k=2: chain end 7 has deg 1, peels; then 6 has deg 1, peels; ...)
    out2 = {r.n: r.core_degree for r in k_core(edges, k=2).collect()}
    assert set(out2) == {1, 2, 3, 4}


def test_clustering_coefficient_known_graphs(spark):
    """Triangle: cc = 1 for all three nodes. Path 1-2-3: middle node
    has deg 2, no triangle -> cc 0; endpoints deg 1 are excluded.
    Square + one diagonal: the diagonal splits it into TWO triangles,
    so diagonal endpoints see 2 triangles over deg 3 (cc = 2/3), the
    other corners 1 over deg 2 (cc = 1)."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        clustering_coefficient,
    )

    tri = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES "
                    "(1L,2L),(2L,3L),(1L,3L)")
    out = {r.doc_id: r.clustering_coeff
           for r in clustering_coefficient(tri).collect()}
    assert out == {1: 1.0, 2: 1.0, 3: 1.0}

    path = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES "
                     "(1L,2L),(2L,3L)")
    out = {r.doc_id: r.clustering_coeff
           for r in clustering_coefficient(path).collect()}
    assert out == {2: 0.0}

    sq = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES "
                   "(1L,2L),(2L,3L),(3L,4L),(1L,4L),(1L,3L)")
    out = {r.doc_id: r.clustering_coeff
           for r in clustering_coefficient(sq).collect()}
    assert out[1] == round(2 / 3, 6) and out[3] == round(2 / 3, 6)
    assert out[2] == 1.0 and out[4] == 1.0
