"""Invariant tests for the round-4 curation operators (semantic dedup,
DSIR weights, shard assignment, BPE pairs, MAD outliers, streaming
top-k) — semantics the differential suite can't pin because both
engines could share the same bug."""

from __future__ import annotations

from pyspark.sql import functions as F

from ngrams_collocations_hadoop_spark.operators.relational import (
    MAD_K, q_mad_outliers)
from ngrams_collocations_hadoop_spark.operators.similarity import (
    q_dedup_semantic)
from ngrams_collocations_hadoop_spark.operators.textstats import (
    BPE_TOPK, N_SHARDS, DSIR_TARGET_LANG, q_bpe_pairs, q_dsir_weights,
    q_shard_assign)
from ngrams_collocations_hadoop_spark.streaming.windows import (
    STREAM_TOPK, q_stream_window_topk)

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_semantic_dedup_keeps_cluster_minimum(spark):
    rows = q_dedup_semantic(spark, SF).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for members in by_cluster.values():
        kept = [m for m in members if m.keep]
        # at least one survivor per cluster, and the min vec_id has no
        # lower-id mate so it can never be marked a duplicate
        assert kept
        assert min(m.vec_id for m in members) in {m.vec_id for m in kept}


def test_semantic_dedup_drops_something_at_sf001(spark):
    dropped = q_dedup_semantic(spark, SF).filter(~F.col("keep")).count()
    assert dropped > 0  # threshold is calibrated to bite, not no-op


def test_dsir_weights_favor_target_domain(spark):
    res = (q_dsir_weights(spark, SF)
           .groupBy(F.col("lang") == DSIR_TARGET_LANG)
           .agg(F.avg("dsir_logweight").alias("w"))
           .collect())
    means = {r[0]: r.w for r in res}
    # target-domain docs must score higher under their own LM ratio
    assert means[True] > means[False]


def test_shard_assign_layout_is_consistent(spark):
    rows = q_shard_assign(spark, SF).collect()
    docs = {r.doc_id for r in rows}
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(docs) == n_docs  # every doc placed exactly once
    shards: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < N_SHARDS
        shards.setdefault(r.shard, []).append(r)
    for members in shards.values():
        members.sort(key=lambda r: r.pos)
        assert [m.pos for m in members] == list(range(1, len(members) + 1))
        off = 0
        for m in members:
            assert m.token_offset == off  # writer offset = running sum
            off += m.n_tokens


def test_bpe_pairs_ranking_contract(spark):
    rows = q_bpe_pairs(spark, SF).collect()
    per_lang: dict[str, list] = {}
    for r in rows:
        # substring(w, i, 2) with i <= length-1 always yields 2 chars
        assert len(r.pair) == 2
        per_lang.setdefault(r.lang, []).append(r)
    for members in per_lang.values():
        members.sort(key=lambda r: r.rank)
        assert len(members) <= BPE_TOPK
        cnts = [m.cnt for m in members]
        assert cnts == sorted(cnts, reverse=True)


def test_mad_outliers_bounds(spark):
    for r in q_mad_outliers(spark, SF01).collect():
        assert r.mad >= 0
        assert r.n_outliers <= r.n
        # MAD_K=3: by construction at most half the points can sit
        # beyond the median-centered band
        assert r.outlier_frac < 0.5
        assert abs(r.outlier_frac - r.n_outliers / r.n) < 1e-6
        assert MAD_K == 3.0


def test_stream_window_topk_bounded_per_window(spark):
    rows = q_stream_window_topk(spark, SF).collect()
    per_win: dict = {}
    for r in rows:
        per_win.setdefault(r.win_start, []).append(r.rank)
    for ranks in per_win.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= STREAM_TOPK


def test_cdc_chunks_partition_and_resync(spark):
    """The two content-defined-chunking invariants: (1) chunks
    PARTITION each doc's token stream (total chunk tokens == doc
    tokens); (2) the rsync/LBFS resync property — inserting one token
    mid-document leaves every chunk after the next boundary
    content-identical, so only a bounded prefix of chunks changes."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        cdc_chunk_table)

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu "
            "one two three four five six seven eight nine ten")
    toks = base.split(" ")
    mutated = " ".join(toks[:12] + ["INSERTED"] + toks[12:])
    docs = spark.createDataFrame(
        [(0, base), (1, mutated)], "doc_id long, text string")
    rows = cdc_chunk_table(docs).collect()
    a = sorted((r for r in rows if r.doc_id == 0),
               key=lambda r: r.chunk_idx)
    b = sorted((r for r in rows if r.doc_id == 1),
               key=lambda r: r.chunk_idx)
    assert sum(r.n_tokens for r in a) == len(toks)
    assert sum(r.n_tokens for r in b) == len(toks) + 1
    # resync: only the ONE chunk containing the insertion may change in
    # the original's chunking (boundary flags of every other token are
    # untouched, so chunks before it and after the next boundary are
    # content-identical); the mutated doc has that chunk either
    # rewritten (inserted token is no boundary) or split in two.
    tail_shared = 0
    for ra, rb in zip(reversed(a), reversed(b)):
        if ra.chunk_md5 != rb.chunk_md5:
            break
        tail_shared += 1
    import hashlib

    from ngrams_collocations_hadoop_spark.operators.dedup import CDC_MOD
    ins_is_boundary = (
        int(hashlib.md5(b"INSERTED").hexdigest()[:8], 16) % CDC_MOD == 0)
    # heads before the insertion chunk also match; count them to pin
    # divergence to exactly the insertion chunk
    head_shared = 0
    for ra, rb in zip(a, b):
        if ra.chunk_md5 != rb.chunk_md5:
            break
        head_shared += 1
    assert len(a) - head_shared - tail_shared == 1
    assert len(b) - head_shared - tail_shared == (
        2 if ins_is_boundary else 1)


def test_label_propagation_disjoint_cliques(spark):
    """Two disjoint triangles: synchronous LP with min-label tiebreak
    converges each to its minimum member id, and labels never leak
    across components."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        label_propagation)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 20), (20, 30), (10, 30)],
        "src long, dst long")
    got = {r.n: r.lbl for r in label_propagation(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10, 30: 10}


def test_label_propagation_majority_over_wide_labels(spark):
    """The majority label wins for labels of any BIGINT size, on both
    engines. With B = 2^33, after round 1 node B+100's neighbors carry
    labels B, B and 6, so round 2 must give it B (2 votes against 1).
    A key of cnt * 2^32 - lbl ranked 6 first once labels reach 2^32."""
    import duckdb

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        _bi_sql, _lp_oracle_iterations, label_propagation)

    big = 1 << 33
    pairs = [(big + 1, big), (big + 2, big), (big + 100, big + 1),
             (big + 100, big + 2), (big + 100, 5), (5, 6)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.n: r.lbl for r in label_propagation(edges, iters=2).collect()}
    assert got[big + 100] == big
    rows = ", ".join(f"({a}::BIGINT, {b}::BIGINT)" for a, b in pairs)
    oracle = duckdb.connect().execute(
        f"WITH edges(src, dst) AS (VALUES {rows}),\n{_bi_sql()},\n"
        f"{_lp_oracle_iterations(2)}\nSELECT n, lbl FROM lab2").fetchall()
    assert dict(oracle) == got


def test_label_propagation_refines_components(spark):
    """On the sf0.001 LSH graph every community must sit INSIDE one
    connected component (LP refines CC, never merges across it)."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        q_dedup_communities_lsh, q_dedup_components_lsh)

    comm = {r.doc_id: r.community
            for r in q_dedup_communities_lsh(spark, SF).collect()}
    comp = {r.doc_id: r.component_id
            for r in q_dedup_components_lsh(spark, SF).collect()}
    assert set(comm) == set(comp)
    comm_to_comp: dict = {}
    for doc, c in comm.items():
        comm_to_comp.setdefault(c, set()).add(comp[doc])
    for comps in comm_to_comp.values():
        assert len(comps) == 1


def test_export_manifest_consistent_with_dsir_selection(spark):
    """The manifest must account for exactly the per-lang top-half DSIR
    docs: shard doc counts sum to Σ floor(n_lang/2), and token totals
    sum to the selected docs' tokens."""
    from ngrams_collocations_hadoop_spark.operators.pipeline import (
        q_export_manifest)
    from ngrams_collocations_hadoop_spark.operators.textstats import (
        q_dsir_weights)

    man = q_export_manifest(spark, SF).collect()
    w = q_dsir_weights(spark, SF).collect()
    per_lang: dict = {}
    for r in w:
        per_lang.setdefault(r.lang, []).append(r)
    selected = []
    for rows in per_lang.values():
        rows.sort(key=lambda r: (-r.dsir_logweight, r.doc_id))
        selected.extend(rows[: len(rows) // 2])
    assert sum(r.n_docs for r in man) == len(selected)
    assert sum(r.total_tokens for r in man) == \
        sum(r.n_tokens for r in selected)
