"""Sketch-based dedup + similarity: unit tests on crafted data with
KNOWN near-duplicates (these operators are approximate, so the driver
only rows-checks them — the correctness pinning happens here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ngrams_collocations_hadoop_spark.operators.dedup import (
    HAMMING_THRESHOLD, minhash_signatures, simhash_col,
)
from ngrams_collocations_hadoop_spark.operators.multimodal import (
    decode_stub, extract_metadata, with_payload,
)
from ngrams_collocations_hadoop_spark.operators.similarity import (
    hyperplane_bucket,
)

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])


def _docs(spark, rows):
    return (spark.createDataFrame(rows, DOC_SCHEMA)
            .withColumn("toks", F.array_distinct(F.split("text", " "))))


BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango")


def test_minhash_lsh_finds_known_near_dups(spark):
    rows = [
        (0, BASE),
        (1, BASE + " uniform"),               # near-dup of 0 (j ≈ 0.95)
        (2, BASE),                            # exact dup of 0 (j = 1)
        (3, "completely different words here now then maybe never again"),
        (4, "zulu yankee xray whiskey victor uniform tango sierra"),
    ]
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    # the candidate stage every LSH query runs: the band join with the
    # signature-agreement prefilter, each pair once as lo < hi
    bands = D._banded_signatures(_docs(spark, rows))
    cands = D._batch_index_candidates(
        spark, D._band_side(bands, "new"), D._band_side(bands, "index"),
        F.col("doc_new") < F.col("doc_match"))
    pairs = {(r["doc_new"], r["doc_match"]) for r in cands.collect()}
    assert (0, 2) in pairs          # identical token sets always collide
    assert (0, 1) in pairs          # j≈0.95 → recall ≈ 1-(1-0.95⁴)¹⁶ ≈ 1
    assert (1, 2) in pairs
    # unrelated docs should not pair with the base cluster
    assert (0, 3) not in pairs and (2, 3) not in pairs


def test_minhash_identical_sets_have_identical_signatures(spark):
    docs = _docs(spark, [(0, "a b c"), (1, "c b a a")])  # same token set
    sigs = [r["sig"] for r in minhash_signatures(docs).collect()]
    assert sigs[0] == sigs[1]


def test_simhash_identical_and_disjoint(spark):
    docs = _docs(spark, [
        (0, BASE), (1, BASE),
        (2, "unrelated vocabulary entirely separate cluster of terms"),
    ]).withColumn("simhash", simhash_col())
    h = {r["doc_id"]: r["simhash"] for r in docs.collect()}
    assert h[0] == h[1]
    xor_pop = bin((h[0] ^ h[2]) & (2**64 - 1)).count("1")
    assert xor_pop > HAMMING_THRESHOLD  # disjoint docs far apart


def test_hyperplane_bucket_deterministic_and_discriminative(spark):
    emb_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    v = [float(i % 7 - 3) for i in range(64)]
    w = [-x for x in v]
    df = spark.createDataFrame(
        [(0, v), (1, list(v)), (2, w)], emb_schema
    ).withColumn("bucket", hyperplane_bucket("embedding"))
    b = {r["vec_id"]: r["bucket"] for r in df.collect()}
    assert b[0] == b[1]             # identical vectors → same bucket
    assert b[0] == (~b[2]) & 0xFF   # negated vector flips every sign bit


def test_multimodal_metadata_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello", "s1"), (2, "", "s1"), (3, "héllo", "s2")],
        ["doc_id", "text", "source"])
    out = extract_metadata(with_payload(docs)).collect()
    got = {r["doc_id"]: (r["n_bytes"], r["header_byte"]) for r in out}
    assert got[1] == (5, ord("h"))
    assert got[2] == (0, -1)            # empty payload handled
    assert got[3] == (6, ord("h"))      # é is 2 bytes in utf-8
    assert all(r["mime"] == "application/octet-stream" for r in out)


def test_decode_stub_raises(spark):
    docs = with_payload(
        spark.createDataFrame([(1, "x", "s")], ["doc_id", "text", "source"]))
    out = extract_metadata(docs, decoder=lambda p: decode_stub(p))
    with pytest.raises(Exception, match="NotImplementedError|decoder"):
        out.collect()


def test_fake_decoder_injection(spark):
    docs = with_payload(
        spark.createDataFrame([(1, "abcd", "s")], ["doc_id", "text", "source"]))

    def fake_image_decoder(payload: bytes) -> dict:
        return {"n_bytes": len(payload),
                "header_byte": len(payload) % 256,   # fake "width"
                "mime": "image/fake"}

    r = extract_metadata(docs, decoder=fake_image_decoder).collect()[0]
    assert (r["n_bytes"], r["header_byte"], r["mime"]) == (4, 4, "image/fake")


def test_frame_sampling_boundaries(spark):
    """300-byte payload, 64-byte frames: frames 0..4 (last is 44 bytes),
    every-4th sampling keeps idx 0 and 4."""
    from pyspark.sql import functions as F
    from ngrams_collocations_hadoop_spark.operators.multimodal import (
        sample_frames,
    )
    docs = (spark.range(1).select(
        F.lit(7).alias("doc_id"),
        F.lit("a" * 299 + "z").alias("text"))
        .withColumn("payload", F.encode("text", "utf-8")))
    rows = sorted(map(tuple, sample_frames(docs).collect()))
    #            doc frame off bytes first last
    assert rows == [(7, 0, 0, 64, ord("a"), ord("a")),
                    (7, 4, 256, 44, ord("a"), ord("z"))]


def test_resize_oracle_parity_on_multibyte_utf8(spark):
    """The resize oracle slices the ENCODED bytes (hex pairs), so it
    must agree with the Spark byte subsample even when fixture text is
    multibyte UTF-8 — the case where a character subsample silently
    diverges (é is 2 bytes; every-2nd-BYTE != every-2nd-CHAR)."""
    import tempfile

    import duckdb

    from ngrams_collocations_hadoop_spark.operators.multimodal import (
        ORACLE_MM_RESIZE, q_mm_resize)
    rows = [(1, "héllo wörld ünïcode", "de", "s", 19),
            (2, "plain ascii text", "en", "s", 16),
            (3, "שלום עולם", "he", "s", 9)]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])
    d = tempfile.mkdtemp(prefix="mmresize_")
    df.write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: (r["n_bytes_in"], r["n_bytes_out"],
                         r["resized_md5"])
           for r in q_mm_resize(spark, d).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')")
    want = {r[0]: (r[1], r[2], r[3])
            for r in con.execute(ORACLE_MM_RESIZE).fetchall()}
    con.close()
    assert got == want
    assert got[1][0] == len("héllo wörld ünïcode".encode()) != 19


def test_connected_components_chain_rounds_and_cap(spark):
    """Pointer jumping converges chain graphs in O(log diameter)
    rounds — a diameter-19 chain in ~5 rounds where plain min-label
    propagation needs 19-20; the cap turns a non-converging loop into
    a loud failure instead of an unbounded driver loop."""
    import pytest

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components,
    )
    chain = spark.sql(
        "SELECT col1 AS src, col2 AS dst FROM VALUES "
        "(1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)")
    out, rounds = connected_components(chain)
    assert {r["component"] for r in out.collect()} == {1}
    assert 2 <= rounds <= 4
    chain19 = spark.sql(
        "SELECT CAST(id AS LONG) AS src, CAST(id + 1 AS LONG) AS dst "
        "FROM range(1, 20)")
    out, rounds = connected_components(chain19)
    assert {r["component"] for r in out.collect()} == {1}
    assert rounds <= 7  # vs 19-20 without jumping
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain19, max_rounds=2)


def test_connected_components_empty_edges(spark):
    """An empty edge set must converge immediately: F.sum over zero
    rows observes NULL, which the loop must read as 'nothing changed',
    not spin to max_rounds and raise. Reachable in production whenever
    an upstream filter (quality gate, LSH threshold) drops every pair."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components,
    )
    empty = spark.sql(
        "SELECT col1 AS src, col2 AS dst FROM VALUES (1L, 2L)").filter(
        "src > 100")
    out, rounds = connected_components(empty, max_rounds=3)
    assert out.count() == 0
    assert rounds <= 1


def test_graph_loops_never_write_session_shuffle_partitions(spark,
                                                            monkeypatch):
    """The iterative graph operators size their shuffles inside their
    own plans: none of them may write spark.sql.shuffle.partitions on
    the caller's session, not even to restore it afterwards (a
    save/restore pair on a shared session races concurrent callers)."""
    from pyspark.sql.conf import RuntimeConfig

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components, connected_components_star, label_propagation)
    written = []
    orig_set = RuntimeConfig.set

    def spy(self, key, value):
        written.append(key)
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["src", "dst"])
    before = spark.conf.get("spark.sql.shuffle.partitions")
    connected_components(edges)
    connected_components_star(edges)
    label_propagation(edges).collect()
    assert "spark.sql.shuffle.partitions" not in written, written
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_graph_loops_sized_plans_match_unsized(spark):
    """On a session whose shuffle width is above the cluster's
    parallelism, the loops carry their own width as REPARTITION_BY_NUM
    exchanges, and each returns exactly what it returns unsized."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        _sized, connected_components, connected_components_star,
        label_propagation)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["src", "dst"])

    def run():
        return (sorted(connected_components(edges)[0].collect()),
                sorted(connected_components_star(edges)[0].collect()),
                sorted(label_propagation(edges).collect()))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    width = spark.conf.get("spark.sql.shuffle.partitions")
    wide = str(4 * spark.sparkContext.defaultParallelism)
    assert "REPARTITION_BY_NUM" not in plan(_sized(edges, 2, "src"))
    plain = run()
    spark.conf.set("spark.sql.shuffle.partitions", wide)
    try:
        assert "REPARTITION_BY_NUM" in plan(_sized(edges, 2, "src"))
        sized = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    assert sized == plain and all(plain)


def test_connected_components_concurrent_callers(spark):
    """Two threads on ONE session run connected_components on different
    graphs at once: each gets its own components and its own round
    count (returned per call, never read from a shared global), and
    the session's shuffle width is left as it was."""
    from concurrent.futures import ThreadPoolExecutor

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components)
    chain19 = spark.sql(
        "SELECT CAST(id AS LONG) AS src, CAST(id + 1 AS LONG) AS dst "
        "FROM range(1, 20)")
    multi = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["src", "dst"])
    want = {
        "chain19": {n: 1 for n in range(1, 21)},
        "multi": {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                  20: 20, 21: 20, 22: 20},
    }
    graphs = {"chain19": chain19, "multi": multi}

    def run(name):
        comp, rounds = connected_components(graphs[name])
        return {r.node: r.component for r in comp.collect()}, rounds

    serial = {name: run(name)[1] for name in graphs}
    assert serial["chain19"] > serial["multi"]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with ThreadPoolExecutor(2) as pool:
        futs = {name: pool.submit(run, name)
                for name in ("chain19", "multi")}
        got = {name: f.result(timeout=600) for name, f in futs.items()}
    for name in graphs:
        assert got[name] == (want[name], serial[name]), name
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_filtered_ann_gates_before_ranking(spark):
    """Hybrid search must filter THEN rank: every returned candidate
    passes the metadata gate, each query still gets exactly k rows
    (survivors abound at this SF), and the gate reaches the parquet
    scan as a pushed filter with a semi-join — not a post-rank drop."""
    from ngrams_collocations_hadoop_spark.operators.similarity import (
        FILTER_MIN_CHARS, TOPK_NEIGHBORS, q_cosine_topk_filtered)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    sf = "/root/testdata/sf0.001"
    out = q_cosine_topk_filtered(spark, sf).collect()
    ok_ids = {r["doc_id"] for r in
              load_table(spark, sf, "documents")
              .filter(F.col("n_chars") >= FILTER_MIN_CHARS)
              .select("doc_id").collect()}
    assert ok_ids and all(r["cand_id"] in ok_ids for r in out)
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, TOPK_NEIGHBORS + 1))
               for v in per_q.values())
    plan = q_cosine_topk_filtered(spark, sf) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "PushedFilters" in plan


def test_incremental_lsh_matches_full_pairs_restricted(spark):
    """The incremental batch-vs-index query must equal the FULL pair
    list restricted to pairs touching the new slice (new id first,
    new×new kept once) — and must never emit an old×old pair."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        NEW_BATCH_MOD, q_dedup_incremental_lsh, q_dedup_minhash_lsh)
    sf = "/root/testdata/sf0.001"
    inc = {(r["doc_new"], r["doc_match"]): r["jaccard"]
           for r in q_dedup_incremental_lsh(spark, sf).collect()}
    assert inc and all(n % NEW_BATCH_MOD == 0 for n, _ in inc)
    full = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in q_dedup_minhash_lsh(spark, sf).collect()}
    expect = {}
    for (a, b), j in full.items():
        if a % NEW_BATCH_MOD == 0:
            expect[(a, b)] = j
        elif b % NEW_BATCH_MOD == 0:
            expect[(b, a)] = j
    assert inc == expect


def test_star_contraction_equivalent_to_pointer_jumping(spark):
    """Both distributed components engines must reach the identical
    fixpoint (node -> min reachable id) on a high-diameter chain, a
    multi-component graph, and an empty edge set."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components, connected_components_star)
    chain19 = spark.sql(
        "SELECT CAST(id AS LONG) AS src, CAST(id + 1 AS LONG) AS dst "
        "FROM range(1, 20)")
    multi = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["src", "dst"])
    for edges in (chain19, multi):
        a = {(r["node"], r["component"]) for r in
             connected_components(edges)[0].collect()}
        b = {(r["node"], r["component"]) for r in
             connected_components_star(edges)[0].collect()}
        assert a == b and a
    empty = chain19.filter("src > 100")
    out, rounds = connected_components_star(empty)
    assert out.count() == 0
    assert rounds <= 2


def test_components_lsh_consistent_with_edges(spark):
    """Every LSH-verified pair must land in one cluster, and each
    cluster id is the min doc_id of its members."""
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        q_dedup_components_lsh, q_dedup_minhash_lsh,
    )
    from .conftest import SF_SMALL
    comp = {r["doc_id"]: r["component_id"]
            for r in q_dedup_components_lsh(spark, SF_SMALL).collect()}
    pairs = [(r["doc_a"], r["doc_b"])
             for r in q_dedup_minhash_lsh(spark, SF_SMALL).collect()]
    assert pairs and comp
    assert all(comp[a] == comp[b] for a, b in pairs)
    members = {}
    for doc, c in comp.items():
        members.setdefault(c, []).append(doc)
    assert all(c == min(m) for c, m in members.items())


def test_pagerank_fixed_point_and_asymmetry(spark):
    """Triangle (regular graph): all ranks stay at the 1.0 fixed point.
    Path graph: the middle node outranks the endpoints."""
    from ngrams_collocations_hadoop_spark.operators.dedup import pagerank
    tri = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES "
                    "(1L, 2L), (2L, 3L), (1L, 3L)")
    out = {r["n"]: r["rank"] for r in pagerank(tri).collect()}
    assert out == {1: 1.0, 2: 1.0, 3: 1.0}
    path = spark.sql("SELECT col1 AS src, col2 AS dst FROM VALUES "
                     "(1L, 2L), (2L, 3L)")
    ranks = {r["n"]: r["rank"] for r in pagerank(path).collect()}
    assert ranks[2] > ranks[1] and ranks[2] > ranks[3]
    assert abs(ranks[1] - ranks[3]) < 1e-9


def test_power_iteration_unit_norm_and_planted_direction(spark, tmp_path):
    """On a corpus with a PLANTED dominant direction u (strong rank-one
    signal + small deterministic noise), three power-iteration rounds
    must return a unit vector aligned with u (|cos| > 0.99). The
    shipped fixture is near-isotropic (eigengap ratio ~0.99), so the
    constructed corpus is what actually exercises convergence; the
    fixture run is covered by the oracle differential test."""
    import math

    from ngrams_collocations_hadoop_spark.operators import similarity as sim

    dim, n = sim.EMB_DIM, 200
    u = [math.sin(3.7 * d + 1.1) for d in range(dim)]
    nu = math.sqrt(sum(x * x for x in u))
    u = [x / nu for x in u]
    rows = []
    for i in range(n):
        a = (i % 17) - 8          # symmetric strong signal coefficient
        noise = [0.05 * math.cos(2.3 * (i + 7 * d)) for d in range(dim)]
        rows.append((i, [float(a * u[d] + noise[d]) for d in range(dim)], 0))
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    out = {r["pos"]: r["loading"]
           for r in sim.q_power_iteration(spark, sf).collect()}
    norm2 = sum(x * x for x in out.values())
    assert abs(norm2 - 1.0) < 1e-6, norm2
    cos = sum(out[d] * u[d] for d in range(dim))
    assert abs(cos) > 0.99, cos


def test_pq_seed_vectors_encode_to_themselves(spark):
    """Each codebook seed vector (vec_id < PQ_K) has sub-distance 0 to
    its own sub-centroid in every subspace, so it must encode to its
    own cid 8 times — pinning both the argmin and the (d2, cid)
    tiebreak orientation. Top-1 neighbor approx score must also be
    finite and the rank column dense per query."""
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.operators import similarity as sim
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    from .conftest import SF_SMALL

    e = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent = (e.filter(F.col("vec_id") < sim.PQ_K)
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")))
    codes = (e.filter(F.col("vec_id") < sim.PQ_K)
             .crossJoin(F.broadcast(cent))
             .groupBy("vec_id")
             .agg(F.array(*[
                 F.expr(f"min(named_struct('d', "
                        f"{sim._pq_d2_expr(m, 'v', 'cv')}, 'c', cid)).c")
                 for m in range(sim.PQ_M)]).alias("codes")))
    for r in codes.collect():
        assert list(r.codes) == [r.vec_id] * sim.PQ_M, r

    out = sim.q_pq_topk(spark, SF_SMALL).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_persisted_lsh_matches_incremental(spark):
    """The persisted-index lifecycle must produce EXACTLY the
    incremental query's pair set — same index contents, different
    storage layout (bucketed catalog table vs in-query DataFrame)."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        q_dedup_incremental_lsh, q_dedup_persisted_lsh,
    )
    a = {(r.doc_new, r.doc_match, r.jaccard)
         for r in q_dedup_persisted_lsh(spark, SF_SMALL).collect()}
    b = {(r.doc_new, r.doc_match, r.jaccard)
         for r in q_dedup_incremental_lsh(spark, SF_SMALL).collect()}
    assert a == b and len(a) > 0


def test_persisted_lsh_append_invariance(spark):
    """The lifecycle's append contract (VERDICT r05 #3): building the
    index over the PRE-batch corpus and appending the batch's band
    rows must yield exactly the match result of rebuilding over the
    full corpus — and the match-only query (build-if-absent) agrees.
    Also checks the appended table really carries both generations
    (more files than buckets, same total rows as the rebuilt index)."""
    from pyspark.sql import functions as F

    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    table = D.build_lsh_index(spark, SF_SMALL, old_only=True)
    n_old = spark.table(table).count()
    batch = load_table(spark, SF_SMALL, "documents") \
        .filter(F.col("doc_id") % D.NEW_BATCH_MOD == 0)
    D.append_lsh_index(spark, table, batch)
    appended = {(r.doc_new, r.doc_match, r.jaccard)
                for r in D.match_lsh_index(spark, SF_SMALL, table).collect()}
    n_appended = spark.table(table).count()
    assert n_appended > n_old

    rebuilt_table = D.build_lsh_index(spark, SF_SMALL)  # full corpus
    rebuilt = {(r.doc_new, r.doc_match, r.jaccard)
               for r in D.match_lsh_index(spark, SF_SMALL,
                                          rebuilt_table).collect()}
    assert appended == rebuilt and len(appended) > 0
    assert n_appended == spark.table(rebuilt_table).count()

    match_only = {(r.doc_new, r.doc_match, r.jaccard)
                  for r in D.q_dedup_persisted_lsh_match(
                      spark, SF_SMALL).collect()}
    assert match_only == rebuilt

    # Double-append idempotence: re-appending the same batch (the
    # retry/at-least-once ingest case) duplicates band ROWS but not
    # output PAIRS — the candidate stage's pair-level dropDuplicates
    # absorbs it. A production compaction would dedup the rows; the
    # match result must not depend on when that happens.
    D.append_lsh_index(spark, table, batch)
    twice = {(r.doc_new, r.doc_match, r.jaccard)
             for r in D.match_lsh_index(spark, SF_SMALL, table).collect()}
    assert twice == rebuilt
    assert spark.table(table).count() > n_appended


def test_lsh_compaction_contract(spark):
    """The lifecycle's COMPACTION contract (VERDICT r06 #7), the other
    half of the append story: after appends have left duplicate band
    rows and multiple files per bucket, a compaction (build_lsh_index
    re-run) must restore (a) exactly one file per bucket, (b) the
    duplicate-free row set (= the appended table's distinct band
    rows), and (c) the match plan's sorted-scan propagation — the
    bucket-local Sort the append introduced is gone (Sort count back
    to 1, the batch side's own merge-join sort)."""
    from pyspark.sql import functions as F

    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from ngrams_collocations_hadoop_spark.plans.checks import physical_plan
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    table = D.build_lsh_index(spark, SF_SMALL, old_only=True)
    batch = load_table(spark, SF_SMALL, "documents") \
        .filter(F.col("doc_id") % D.NEW_BATCH_MOD == 0)
    D.append_lsh_index(spark, table, batch)
    D.append_lsh_index(spark, table, batch)   # retry: duplicate rows
    n_buckets = D.table_num_buckets(spark, table)
    assert len(spark.table(table).inputFiles()) > n_buckets
    appended_rows = spark.table(table).count()
    appended_distinct = (spark.table(table)
                         .dropDuplicates(["doc_id", "band_id"]).count())
    assert appended_rows > appended_distinct   # dups really exist

    compacted = D.build_lsh_index(spark, SF_SMALL)
    # (a) one file per bucket again
    assert len(spark.table(compacted).inputFiles()) \
        == D.table_num_buckets(spark, compacted)
    # (b) duplicate band rows gone: the compacted index is exactly
    # the appended table's distinct row set
    assert spark.table(compacted).count() == appended_distinct
    # (c) sorted-scan propagation restored: no bucket-local Sort on
    # the index side (1 Sort = the freshly-shuffled batch side's)
    plan = physical_plan(D.match_lsh_index(spark, SF_SMALL, compacted))
    assert plan.count("Sort ") == 1, plan


def test_lsh_bucket_policy_on_directory_corpus(tmp_path):
    """The corpus stat must aggregate over part FILES when the corpus
    is a directory (the production shape): the directory inode's own
    stat is ~4 KB, which would floor the bucket policy at 8 forever
    and miss in-place part rewrites in the state key (found by the
    r07 factor-axis probe rerun — the 9.6 MB 16x corpus got 8
    buckets)."""
    import os

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        lsh_index_buckets)
    from ngrams_collocations_hadoop_spark.plans.cache import corpus_state

    d = tmp_path / "documents.parquet"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}.parquet").write_bytes(b"x" * 800_000)
    mtime, size = corpus_state(str(tmp_path))
    assert size == 2_400_000
    assert lsh_index_buckets(str(tmp_path)) == 32
    # an in-place part rewrite must move the state key
    os.utime(d / "part-1.parquet", ns=(mtime + 10**9, mtime + 10**9))
    assert corpus_state(str(tmp_path))[0] > mtime


def test_lsh_bucket_policy_and_match_parallelism(spark):
    """The bucket count is a first-class build parameter (VERDICT r06
    #4): (a) the corpus-scaled default follows the probe's linear
    bytes-per-bucket rule with the floor at the fixture scale; (b) an
    explicit count lands in the table's catalog bucket spec AND its
    file layout — which is what caps match parallelism, the probe's
    measured bottleneck — and the append path reads the count back
    from the catalog, so a scaled build and a later append can never
    disagree (ADVICE r06); (c) the bucket count is LAYOUT ONLY: the
    match result is identical across counts."""
    from pyspark.sql import functions as F

    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    # (a) policy: fixture-sized corpora sit at the floor
    assert D.lsh_index_buckets(SF_SMALL, spark) == D.LSH_INDEX_BUCKETS

    base = {(r.doc_new, r.doc_match, r.jaccard)
            for r in D.match_lsh_index(
                spark, SF_SMALL, D.build_lsh_index(spark, SF_SMALL))
            .collect()}

    # (b) explicit count -> catalog spec + one file per bucket
    table = D.build_lsh_index(spark, SF_SMALL, n_buckets=16)
    assert D.table_num_buckets(spark, table) == 16
    assert len(spark.table(table).inputFiles()) == 16
    # append honors the TABLE's spec, not the module floor
    batch = load_table(spark, SF_SMALL, "documents") \
        .filter(F.col("doc_id") % D.NEW_BATCH_MOD == 0)
    D.append_lsh_index(spark, table, batch)
    assert len(spark.table(table).inputFiles()) == 32  # 16 + 16

    # (c) same pairs at 16 buckets, even post-append
    scaled = {(r.doc_new, r.doc_match, r.jaccard)
              for r in D.match_lsh_index(spark, SF_SMALL, table)
              .collect()}
    assert scaled == base and len(base) > 0
    D.build_lsh_index(spark, SF_SMALL)   # restore the default layout


def test_star_contraction_multi_parent_termination(spark):
    """Regression for the premature-termination bug: edges
    (1,3),(3,4),(4,5),(2,5) contract in ONE round to
    {(3,1),(4,1),(3,2),(5,2)} — no target is also a child, but node 3
    has TWO parents, so stopping there splits the single component
    {1..5} in two and emits node 3 twice. The fixed test also requires
    one-parent-per-child. Plus a randomized sweep against the
    pointer-jumping engine (the review's simulation hit the bug on
    ~0.7% of random graphs)."""
    import random

    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components, connected_components_star)

    ce = spark.createDataFrame(
        [(1, 3), (3, 4), (4, 5), (2, 5)], ["src", "dst"])
    got = {(r["node"], r["component"]) for r in
           connected_components_star(ce)[0].collect()}
    assert got == {(n, 1) for n in (1, 2, 3, 4, 5)}, got

    rng = random.Random(20240815)
    for trial in range(30):
        n = rng.randint(4, 12)
        m = rng.randint(3, 14)
        edges = [(rng.randint(1, n), rng.randint(1, n)) for _ in range(m)]
        df = spark.createDataFrame(edges, ["src", "dst"]) \
            .filter("src != dst")
        if df.count() == 0:
            continue
        a = {(r["node"], r["component"]) for r in
             connected_components(df)[0].collect()}
        b = {(r["node"], r["component"]) for r in
             connected_components_star(df)[0].collect()}
        assert a == b, (trial, sorted(edges), sorted(a ^ b))


def test_pq_rerank_is_exact_over_the_adc_shortlist(spark):
    """Two-stage contract: every reranked pair must come from the ADC
    top-PQ_RERANK_C shortlist, ranks must be dense 1..k per query, and
    the recall-audit row must show the refinement never LOSES recall
    vs plain PQ top-k on the fixture (recall_rerank >= recall_pq — the
    step's whole point; equality allowed)."""
    from ngrams_collocations_hadoop_spark.operators import similarity as sim
    from .conftest import SF_SMALL

    codes, qarr, _ = sim._pq_parts_cent(spark, SF_SMALL)
    shortlist = {(r.query_id, r.vec_id)
                 for r in sim._top_per_query(
                     sim._adc_scored(codes, qarr), "approx", "vec_id",
                     sim.PQ_RERANK_C)
                 .select("query_id", "vec_id").collect()}
    out = sim.q_pq_rerank(spark, SF_SMALL).collect()
    per_q = {}
    for r in out:
        assert (r.query_id, r.cand_id) in shortlist, r
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q

    audit = sim.q_sim_pq_rerank_recall(spark, SF_SMALL).collect()[0]
    assert audit.n_exact > 0
    assert audit.recall_rerank >= audit.recall_pq, audit


def test_mrl_funnel_contract(spark):
    """Matryoshka funnel: reranked pairs must come from the prefix-dim
    top-MRL_CAND shortlist, per-query ranks dense, exact full-dim
    cosine ordering inside the shortlist (descending per rank), and
    the recall audit consistent (0 <= n_found <= n_exact, recall the
    quantized ratio)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.operators import similarity as sim
    from ngrams_collocations_hadoop_spark.operators.dedup import cosine_expr
    from .conftest import SF_SMALL

    e = sim.load_finite_embeddings(spark, SF_SMALL)
    q = (e.filter(F.col("vec_id") < sim.N_QUERY_VECS)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    cand = e.select(F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("c_emb"))
    wc = (Window.partitionBy("query_id")
          .orderBy(F.desc("pcos"), F.asc("cand_id")))
    shortlist = {(r.query_id, r.cand_id)
                 for r in cand.crossJoin(F.broadcast(q))
                 .filter(F.col("cand_id") != F.col("query_id"))
                 .withColumn("pcos", cosine_expr(
                     f"slice(q_emb, 1, {sim.MRL_DIM})",
                     f"slice(c_emb, 1, {sim.MRL_DIM})"))
                 .withColumn("crank", F.row_number().over(wc))
                 .filter(F.col("crank") <= sim.MRL_CAND)
                 .select("query_id", "cand_id").collect()}

    out = sim.q_mrl_topk(spark, SF_SMALL).collect()
    per_q = {}
    for r in out:
        assert (r.query_id, r.cand_id) in shortlist, r
        per_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for qid, pairs in per_q.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, len(pairs) + 1)), qid
        cosines = [p[1] for p in pairs]
        assert cosines == sorted(cosines, reverse=True), qid

    audit = sim.q_sim_mrl_recall(spark, SF_SMALL).collect()[0]
    assert 0 <= audit.n_found <= audit.n_exact, audit
    assert abs(audit.recall - round(audit.n_found / audit.n_exact, 4)) < 1e-9


def test_ivfpq_funnel_composes_its_stages(spark):
    """IVF-PQ + refine contract: every result pair's candidate must
    lie in one of the query's NPROBE probed cells (the coarse-prune
    stage actually gates) and ranks must be dense per query. Recall
    direction, pinned on the fixture: cell pruning removes true
    neighbors outside the probed cells, so the composed funnel's
    recall sits at-or-below the cell-unpruned PQ rerank's here (not a
    theorem — pruning can also evict ADC-favored FALSE candidates
    from the shortlist — but a stable property of this corpus that a
    probe/centroid retune regression would flip)."""
    from pyspark.sql import functions as F

    from ngrams_collocations_hadoop_spark.operators import similarity as sim
    from .conftest import SF_SMALL

    index, probes = sim._ivf_cells(spark, SF_SMALL)
    allowed = {(p.query_id, i.cand_id)
               for i in index.select("cand_id", "cell").collect()
               for p in probes.select("query_id", "cell").collect()
               if i.cell == p.cell and i.cand_id != p.query_id}
    out = sim.q_ivfpq_topk(spark, SF_SMALL).collect()
    per_q = {}
    for r in out:
        assert (r.query_id, r.cand_id) in allowed, r
        per_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q

    rr = sim.q_sim_pq_rerank_recall(spark, SF_SMALL).collect()[0]
    fp = sim.q_sim_ivfpq_recall(spark, SF_SMALL).collect()[0]
    assert fp.n_exact == rr.n_exact > 0
    assert fp.recall <= rr.recall_rerank, (fp.recall, rr.recall_rerank)


def test_wav_header_decode_matches_struct_unpack(spark):
    """Independent check of the LE header parse: the synthesized RIFF
    payloads are unpacked with Python's struct (the actual WAV spec —
    '<' little-endian) and must agree field-for-field with the
    column-expression decode, including duration. Catches exactly the
    bug class the operator exists to avoid: byte-order mistakes that
    a same-expression oracle would reproduce rather than catch."""
    import struct

    from ngrams_collocations_hadoop_spark.operators.multimodal import (
        q_mm_audio_meta, synth_wav_payload)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table
    from .conftest import SF_SMALL

    docs = (load_table(spark, SF_SMALL, "documents").select("doc_id")
            .withColumn("payload", synth_wav_payload()).limit(50))
    raw = {r.doc_id: bytes(r.payload) for r in docs.collect()}
    out = {r.doc_id: r for r in
           q_mm_audio_meta(spark, SF_SMALL).collect() if r.doc_id in raw}
    assert len(out) == len(raw) > 0
    for doc_id, payload in raw.items():
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        (fmt, chans, rate, brate, balign, bits) = struct.unpack(
            "<HHIIHH", payload[20:36])
        (dsize,) = struct.unpack("<I", payload[40:44])
        r = out[doc_id]
        assert fmt == 1 and r.valid_riff
        assert (r.channels, r.sample_rate, r.bits_per_sample,
                r.data_bytes) == (chans, rate, bits, dsize), r
        assert brate == rate * chans * 2 and balign == chans * 2
        want = round(dsize / (rate * chans * (bits // 8)), 6)
        assert abs(r.duration_s - want) < 2e-6, (r.duration_s, want)


def test_pq_trained_codebook_dense_and_carries_empty_cells(spark):
    """The trained PQ codebook must stay PQ_K-DENSE (the ADC distance
    table is positional — a vanished centroid id means out-of-bounds
    lookups), with full EMB_DIM vectors assembled in subspace order;
    and a Lloyd round must CARRY FORWARD a centroid that attracted no
    members instead of dropping it (crafted: one centroid at the data,
    one far away — the far one must survive the round unchanged while
    the near one moves to the exact quantized mean)."""
    from ngrams_collocations_hadoop_spark.operators import similarity as S
    from .conftest import SF_SMALL

    cb = S._pq_trained_codebook(spark, SF_SMALL).collect()
    assert sorted(r.cid for r in cb) == list(range(S.PQ_K))
    assert all(len(r.cv) == S.EMB_DIM for r in cb)

    sub = spark.sql(
        "SELECT * FROM VALUES (CAST(0 AS BIGINT), 0, array(0D, 0D)),"
        " (CAST(1 AS BIGINT), 0, array(1D, 1D)) AS t(vec_id, m, sv)")
    cent = spark.sql(
        "SELECT * FROM VALUES (0, 0, array(0D, 0D)),"
        " (0, 1, array(100D, 100D)) AS t(m, cid, cv)")
    out = {(r.m, r.cid): list(r.cv)
           for r in S._pq_lloyd_round(sub, cent).collect()}
    assert out[(0, 1)] == [100.0, 100.0]   # empty cell: carried as-is
    assert out[(0, 0)] == [0.5, 0.5]       # members 0,1 -> exact mean


def test_pq_trained_codebook_plan_memo(spark):
    """r10 optimization: the trained-codebook PLAN is memoized per
    (sf_dir, sample) under session + corpus-state guards — a warm
    re-invocation returns the identical constructed plan instead of
    paying ~0.5-0.9 s of py4j Column-tree rebuilds; a clearCache is
    healed by re-pinning the chain's round handles on the hit path; a
    corpus-state move misses and rebuilds an equal plan; the
    e-override (epoch-slice) path never memoizes."""
    from ngrams_collocations_hadoop_spark.operators import similarity as S
    from .conftest import SF_SMALL

    # StateCache entries: key -> _Entry(session, app, state, df, pins)
    memo = S._PQ_CB_MEMO._entries
    key = (SF_SMALL, None)
    S._PQ_CB_MEMO.clear()
    S._PQ_TRAIN_LIVE.clear()   # so it tracks exactly this chain's rounds
    a = S._pq_trained_codebook(spark, SF_SMALL)
    assert S._pq_trained_codebook(spark, SF_SMALL) is a  # memo hit
    assert memo[key].df is a
    assert [h for _, h in memo[key].pins] == S._PQ_TRAIN_LIVE.handles
    assert len(S._PQ_TRAIN_LIVE.handles) == S.PQ_TRAIN_ITERS
    # hit path re-pins the per-round handles after a clearCache
    spark.catalog.clearCache()
    assert S._pq_trained_codebook(spark, SF_SMALL) is a
    lvls = [h.storageLevel for h in S._PQ_TRAIN_LIVE.handles]
    assert len(lvls) == S.PQ_TRAIN_ITERS
    assert all(lvl.useMemory or lvl.useDisk for lvl in lvls)
    # a corpus-state move (in-place embeddings rewrite) must miss and
    # rebuild — same plan, fresh construction
    memo[key] = memo[key]._replace(state=("moved",))
    d = S._pq_trained_codebook(spark, SF_SMALL)
    assert d is not a and d.sameSemantics(a)
    assert memo[key].df is d
    # the e-override path (append test's epoch-slice training) bypasses
    # the memo entirely
    n0 = len(memo)
    e = S.load_finite_embeddings(spark, SF_SMALL).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    S._pq_trained_codebook(spark, SF_SMALL, e=e)
    assert len(memo) == n0 and memo[key].df is d


def test_incremental_components_merge_old_clusters(spark):
    """Crafted bridge case for q_dedup_components_incremental's
    engine: two pre-batch clusters get chained by ONE batch edge —
    the contracted union must produce a single merged component with
    the global-min label and the FULL merged size, in rounds bounded
    by the new edge's structure (old chain length contributes zero).
    Built directly on the star-contraction + propagation pieces so it
    pins the mechanism, not just the fixture outcome."""
    from pyspark.sql import functions as F
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        connected_components)

    # old clusters (long chains, pre-contracted): {1..4} -> 1, {6..9} -> 6
    star = spark.sql(
        "SELECT * FROM VALUES (2L, 1L), (3L, 1L), (4L, 1L),"
        " (7L, 6L), (8L, 6L), (9L, 6L) AS t(src, dst)")
    # batch doc 10 bridges the two clusters
    new_edges = spark.sql(
        "SELECT * FROM VALUES (10L, 4L), (10L, 9L) AS t(src, dst)")
    comp, rounds = connected_components(star.unionByName(new_edges))
    rows = {r.node: r.component for r in comp.collect()}
    assert set(rows.values()) == {1}          # one merged component
    assert len(rows) == 9                     # 1..4, 6..9, 10
    # depth: star edges are diameter 1, so the label walk is bounded
    # by the bridge structure (label reaches 10 via 4, then crosses
    # to the far star and its leaves — 4 rounds measured) no matter
    # how long the ORIGINAL chains inside the old clusters were; the
    # same topology UNcontracted (chains of length 4) needs the full
    # chain depth again
    assert rounds <= 4


def test_components_table_lifecycle_matches_full_recompute(spark,
                                                          monkeypatch):
    """The persisted-components lifecycle (build pre-batch clusters →
    per-ingest contracted update) must reproduce the full-graph
    recompute EXACTLY — membership, min-id labels, and merged sizes —
    while its update job touches no old×old candidate generation (its
    edges come from the batch-side incremental band join plus the
    materialized table). Also pins the round economics: the update's
    propagation depth never exceeds the full recompute's (the round
    counts are read from each connected_components call's return)."""
    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from .conftest import SF_SMALL

    rounds = []
    cc = D.connected_components

    def spy(*args, **kwargs):
        comp, n = cc(*args, **kwargs)
        rounds.append(n)
        return comp, n

    table = D.build_components_table(spark, SF_SMALL)
    monkeypatch.setattr(D, "connected_components", spy)
    try:
        upd = {tuple(r) for r in
               D.update_components_table(spark, SF_SMALL).collect()}
        full = {tuple(r) for r in
                D.q_dedup_components_lsh(spark, SF_SMALL).collect()}
        assert upd == full
        upd_rounds, full_rounds = rounds
        assert upd_rounds <= full_rounds, (upd_rounds, full_rounds)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_pk_gate_reserved_column_raises(spark):
    """attach_pk_gate ADDS a ``_pk_gate`` column via crossJoin; a
    stream already carrying that name would make the join output
    ambiguous, so the gate must refuse loudly (the write_zordered
    reserved-name contract, extended here per ADVICE r08)."""
    from ngrams_collocations_hadoop_spark.sources.tables import (
        attach_pk_gate)
    docs = _docs(spark, [(1, BASE), (2, BASE)])
    poisoned = docs.withColumn("_pk_gate", F.lit(None).cast("string"))
    with pytest.raises(ValueError, match="_pk_gate"):
        attach_pk_gate(poisoned, docs.select("doc_id"), "doc_id", "test")
    # ids_df carrying the name is fine — only the STREAM schema is
    # joined through
    out = attach_pk_gate(docs, poisoned.select("doc_id"), "doc_id",
                         "test")
    assert out.count() == 2


def test_match_lsh_trusted_docs_skips_gate(spark):
    """match_lsh_index's trusted ``docs`` override (ADVICE r08): a
    caller-resolved documents scan skips the corpus-proportional PK
    audit — the amortized per-ingest match stays batch-proportional —
    while the default raw-scan path keeps the fail-loud gate. Checked
    structurally (assert_true present/absent in the analyzed plan) and
    by value (trusted output == gated output on a clean corpus)."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        lsh_index_table, build_lsh_index, match_lsh_index)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    table = lsh_index_table(SF_SMALL, spark)
    if not spark.catalog.tableExists(table):
        build_lsh_index(spark, SF_SMALL)
    gated = match_lsh_index(spark, SF_SMALL, table)
    trusted = match_lsh_index(
        spark, SF_SMALL, table,
        docs=load_table(spark, SF_SMALL, "documents"))
    gated_plan = gated._jdf.queryExecution().analyzed().toString()
    trusted_plan = trusted._jdf.queryExecution().analyzed().toString()
    assert "assert_true" in gated_plan
    assert "assert_true" not in trusted_plan
    a = {(r.doc_new, r.doc_match, r.jaccard) for r in gated.collect()}
    b = {(r.doc_new, r.doc_match, r.jaccard) for r in trusted.collect()}
    assert a == b and len(a) > 0


def test_tokens_persisted_tracking(spark):
    """The token-cache live list (VERDICT r08 #7): one tracked handle
    per DISTINCT tokenize plan (re-requests return the SAME handle —
    no "already cached" re-persist), the list is bounded with
    oldest-corpus eviction, and a handle orphaned by
    catalog.clearCache() is re-persisted instead of being returned
    cold forever."""
    import ngrams_collocations_hadoop_spark.operators.dedup as dd

    saved = dict(dd._TOK_LIVE._entries)
    dd._TOK_LIVE._entries.clear()

    def pin(df):
        return dd._TOK_LIVE.pin(df, spark, (1, 1))

    try:
        max_live = dd._TOK_LIVE.max_entries
        plans = [
            _docs(spark, [(i, BASE)]).select("doc_id", "toks")
            for i in range(max_live + 1)
        ]
        h0 = pin(plans[0])
        assert pin(plans[0]) is h0
        assert len(dd._TOK_LIVE._entries) == 1
        assert h0.storageLevel.useMemory or h0.storageLevel.useDisk
        for p in plans[1:]:
            pin(p)
        # bound trips: oldest evicted, newest MAX still tracked
        assert len(dd._TOK_LIVE._entries) == max_live
        assert not any(h0.sameSemantics(h) for h in dd._TOK_LIVE.handles)
        # clearCache orphan: same handle comes back re-persisted
        h1 = dd._TOK_LIVE.handles[0]
        spark.catalog.clearCache()
        lvl = h1.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)
        h1b = pin(h1)
        assert h1b is h1
        lvl = h1.storageLevel
        assert lvl.useMemory or lvl.useDisk
    finally:
        dd._TOK_LIVE.clear()
        dd._TOK_LIVE._entries.update(saved)
        spark.catalog.clearCache()


def test_tracked_cache_state_eviction(spark):
    """The corpus-state key on tracked caches (ADVICE r09): a
    same-plan request whose state key moved (the input was rewritten
    in place — plan semantics can't see that) must NOT return the old
    handle; the stale entry is evicted and the caller's fresh frame is
    persisted and tracked in its place. Same plan + same state keeps
    returning the one tracked handle."""
    import tempfile

    from ngrams_collocations_hadoop_spark.plans.cache import StateCache

    cache = StateCache(max_entries=2)
    base = tempfile.mkdtemp(prefix="ncs_trackcache_")
    spark.range(5).write.parquet(f"{base}/t.parquet")
    try:
        # two scans of one path are sameSemantics — the production
        # aliasing shape (load_table called per invocation)
        p1 = spark.read.parquet(f"{base}/t.parquet")
        p1_alias = spark.read.parquet(f"{base}/t.parquet")
        h = cache.pin(p1, spark, (100, 7))
        assert cache.pin(p1_alias, spark, (100, 7)) is h
        assert len(cache._entries) == 1
        # the input was rewritten: same plan, new (mtime, size) state
        h2 = cache.pin(p1_alias, spark, (200, 7))
        assert h2 is not h
        assert h2 is p1_alias
        assert len(cache._entries) == 1
        lvl = h2.storageLevel
        assert lvl.useMemory or lvl.useDisk
        # the stale handle was released (async — its entry is gone)
        assert not any(h is t for t in cache.handles)
        # None state (stat unavailable) never hits: the same-plan
        # handle is released, and the caller's frame is returned
        # neither persisted nor tracked (two scans of one path, the
        # production aliasing shape)
        spark.range(3).write.parquet(f"{base}/u.parquet")
        hu = cache.pin(spark.read.parquet(f"{base}/u.parquet"), spark,
                       (1, 1))
        un = spark.read.parquet(f"{base}/u.parquet")
        assert cache.pin(un, spark, None) is un
        assert not any(hu is t for t in cache.handles)
        assert not (un.storageLevel.useMemory or un.storageLevel.useDisk)
        assert cache.pin(spark.read.parquet(f"{base}/u.parquet"), spark,
                         None) is not un
    finally:
        cache.clear()
        spark.catalog.clearCache()


def test_plan_memo_guards_and_recency():
    """StateCache plans without Spark: a hit needs the same session
    object, applicationId and state; a None state never memoizes; and
    a hit refreshes recency, so eviction drops the least recently used
    key."""
    from types import SimpleNamespace

    from ngrams_collocations_hadoop_spark.plans.cache import StateCache

    sess = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="a1"))
    built = []

    def build(tag):
        def b():
            built.append(tag)
            return object(), []
        return b

    memo = StateCache(max_entries=2)

    def get(key, session, state):
        return memo.plan(key, session, state, build(key))[0]

    x = get("x", sess, 1)
    assert get("x", sess, 1) is x and built == ["x"]
    assert get("x", sess, 2) is not x                    # state moved
    x = memo._entries["x"].df
    other = SimpleNamespace(sparkContext=sess.sparkContext)
    assert get("x", other, 2) is not x                   # new session
    x = get("x", sess, 2)
    sess.sparkContext.applicationId = "a2"               # restarted
    assert get("x", sess, 2) is not x
    n = len(built)
    get("n", sess, None)
    get("n", sess, None)
    assert len(built) == n + 2 and "n" not in memo._entries
    # recency: x hit after y was inserted, so z evicts y, not x
    x = get("x", sess, 2)
    get("y", sess, 2)
    assert get("x", sess, 2) is x
    get("z", sess, 2)
    assert list(memo._entries) == ["x", "z"]


def test_plan_memo_concurrent_callers():
    """Serving threads sharing one session hit the memo at once: with
    more threads than cores and a short switch interval, no get() may
    raise, each returns a plan built for its own key, and the bound
    holds."""
    import os
    import sys
    import threading
    from types import SimpleNamespace

    from ngrams_collocations_hadoop_spark.plans.cache import StateCache

    sess = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="a"))
    memo = StateCache(max_entries=3)
    errors: list = []

    def worker(tid: int) -> None:
        try:
            for i in range(400):
                key = (tid + i) % 7
                got = memo.plan(key, sess, 1, lambda: ((key,), []))[0]
                assert got == (key,), (got, key)
        except BaseException as exc:   # reported by the main thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,))
                   for t in range(4 * (os.cpu_count() or 2))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert len(memo._entries) <= 3


def test_pq_sampled_equals_trained_at_fixture_scale(spark):
    """The production sampled-training path (VERDICT r08 #4) at its
    full-sample setting: the fixture corpus is smaller than
    PQ_TRAIN_SAMPLE, so the hash-ordered sample IS the corpus and the
    sampled codebook must reproduce the full-trained ranking exactly
    — the verdict's pinned equivalence, independent of the oracle."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.similarity import (
        PQ_TRAIN_SAMPLE, q_pq_sampled_topk, q_pq_trained_topk)

    n = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    assert n < PQ_TRAIN_SAMPLE
    a = {tuple(r) for r in q_pq_trained_topk(spark, SF_SMALL).collect()}
    b = {tuple(r) for r in q_pq_sampled_topk(spark, SF_SMALL).collect()}
    assert a == b and len(a) > 0


def test_pq_train_sample_order_matches_duckdb(spark):
    """The sampled path's ONE cross-engine hazard is the sample
    SELECTION (everything downstream reuses the already-pinned Lloyd
    idioms): the first-N-by-md5(vec_id) order must pick the same ids
    in Spark and DuckDB at a SUB-corpus budget, else the sampled
    oracle would only ever be exercised in its degenerate
    sample==corpus regime."""
    import duckdb
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.similarity import (
        FINITE_EMB_COND_SQL, load_finite_embeddings)

    N = 32
    ids = [r.vec_id for r in
           load_finite_embeddings(spark, SF_SMALL)
           .select("vec_id")
           .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
           .limit(N).collect()]
    con = duckdb.connect()
    duck = [r[0] for r in con.execute(
        f"SELECT vec_id FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet') "
        f"WHERE {FINITE_EMB_COND_SQL} "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N}"
    ).fetchall()]
    con.close()
    assert ids == duck and len(ids) == N
    # and it IS a shuffle of the id order, not a prefix (the sample
    # would otherwise silently be "first N by ingest order")
    assert ids != sorted(ids)


def test_pq_persisted_matches_inquery_and_serves_from_table(spark):
    """The persisted PQ-codes lifecycle: serving from the materialized
    table must reproduce the in-query ``q_pq_sampled_topk`` ranking
    exactly (the stored codebook IS the production sampled-Lloyd one
    since r10 — VERDICT r09 #2 — and materializing its codes is
    value-neutral: the shared-oracle claim), and the WARM serving plan
    must read the catalog table with NO corpus-side encode aggregate
    (the codes' groupBy(vec_id) argmin) and NO Lloyd-training subtree —
    the whole point of paying encode+training once per refresh. Also
    pins the trusted ``emb`` override (VERDICT r09 #5): a caller-
    resolved embeddings frame returns the same rows while skipping the
    corpus-proportional vec_id audit (no pk-gate observe in the
    plan)."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.similarity import (
        PQ_INDEX_TABLE, pq_index_table, q_pq_persisted_topk,
        q_pq_sampled_topk)
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    table = pq_index_table(SF_SMALL, spark)
    served = q_pq_persisted_topk(spark, SF_SMALL)   # builds if absent
    assert spark.catalog.tableExists(table)
    a = {tuple(r) for r in served.collect()}
    b = {tuple(r) for r in q_pq_sampled_topk(spark, SF_SMALL).collect()}
    assert a == b and len(a) > 0
    # warm re-construction: the plan reads the table, never the
    # encode/training — the sampled in-query plan has the corpus-side
    # argmin aggregates, the served plan must not
    warm = q_pq_persisted_topk(spark, SF_SMALL)
    plan = warm._jdf.queryExecution().executedPlan().toString()
    assert PQ_INDEX_TABLE in plan
    topk_plan = q_pq_sampled_topk(spark, SF_SMALL) \
        ._jdf.queryExecution().optimizedPlan().toString()
    warm_opt = warm._jdf.queryExecution().optimizedPlan().toString()
    assert "min(named_struct(d," in topk_plan.replace(" ", "")
    assert "min(named_struct(d," not in warm_opt.replace(" ", "")
    # trusted override: same rows, gate audit gone from the plan
    trusted = q_pq_persisted_topk(
        spark, SF_SMALL, emb=load_table(spark, SF_SMALL, "embeddings"))
    assert {tuple(r) for r in trusted.collect()} == a
    assert "PK precondition" in warm_opt
    assert "PK precondition" not in \
        trusted._jdf.queryExecution().optimizedPlan().toString()


def test_pq_append_encodes_with_the_epoch_codebook(spark):
    """The PQ APPEND contract: build the index over the PRE-batch
    vectors (vec_id % 5 != 0), append the batch, and the appended
    table's codes must equal encoding the FULL corpus with the
    EPOCH's (pre-batch) codebook — NOT with a codebook re-derived
    from the grown corpus (which would silently re-key the positional
    ADC index). The epoch codebook is built through the PRODUCTION
    sampled-Lloyd path (the codebook ``build_pq_index`` actually
    stores since r10 — VERDICT r09 #2), so the re-derive pin covers
    the trained scheme, not the retired one-shot. Also pins:
    appending only grows the table by the batch; duplicate ids inside
    a batch raise through the shared encode gate."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.similarity import (
        FINITE_EMB_COND, PQ_TRAIN_SAMPLE, _pq_encode,
        _pq_trained_codebook, append_pq_index, build_pq_index,
        load_finite_embeddings, pq_index_table)
    from ngrams_collocations_hadoop_spark.sources.storage import (
        drop_table_and_location)

    e = load_finite_embeddings(spark, SF_SMALL).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    pre = e.filter(F.col("vec_id") % 5 != 0)
    batch_raw = (spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
                 .filter(F.col("vec_id") % 5 == 0))

    table = pq_index_table(SF_SMALL, spark) + "_prebatch_test"
    try:
        # build over the pre-batch slice (mirror build_pq_index on a
        # filtered corpus — the prod path parameterizes the scan;
        # the codebook is the production sampled-Lloyd one)
        cb = _pq_trained_codebook(spark, SF_SMALL,
                                  sample=PQ_TRAIN_SAMPLE, e=pre)
        drop_table_and_location(spark, table)
        drop_table_and_location(spark, f"{table}_cb")
        cb.write.mode("overwrite").format("parquet") \
            .saveAsTable(f"{table}_cb")
        _pq_encode(pre.crossJoin(F.broadcast(
            spark.table(f"{table}_cb")))) \
            .write.mode("overwrite").format("parquet").saveAsTable(table)
        n_pre = spark.table(table).count()

        append_pq_index(spark, SF_SMALL, table, batch_raw)
        appended = {(r.vec_id, tuple(r.codes))
                    for r in spark.table(table).collect()}
        n_batch = batch_raw.filter(F.expr(FINITE_EMB_COND)).count()
        assert len(appended) == n_pre + n_batch

        # ground truth: encode the FULL corpus with the EPOCH codebook
        epoch_cb = spark.table(f"{table}_cb")
        want = {(r.vec_id, tuple(r.codes)) for r in
                _pq_encode(e.crossJoin(F.broadcast(epoch_cb))).collect()}
        assert appended == want

        # and the epoch codebook must DIFFER from the grown-corpus
        # trained one (else this test couldn't catch a re-derive bug)
        grown = {(r.cid, tuple(r.cv))
                 for r in _pq_trained_codebook(
                     spark, SF_SMALL, sample=PQ_TRAIN_SAMPLE).collect()}
        stored = {(r.cid, tuple(r.cv)) for r in epoch_cb.collect()}
        assert grown != stored

        # duplicate ids inside one batch raise through the encode gate
        dup = batch_raw.unionByName(batch_raw.limit(1))
        with pytest.raises(Exception, match="PK precondition"):
            append_pq_index(spark, SF_SMALL, table, dup)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}_cb")


def test_components_update_prefers_lsh_index(spark, monkeypatch):
    """The two lifecycles compose: when the corpus state has a
    persisted LSH index, the components UPDATE takes its batch pairs
    from the match-only job (zero exchange on the index side) and its
    output must be IDENTICAL to the no-index fallback — same
    membership, same labels, same sizes."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    calls = []
    for name in ("match_lsh_index", "q_dedup_incremental_lsh"):
        def spy(*args, _f=getattr(D, name), _name=name, **kwargs):
            calls.append(_name)
            return _f(*args, **kwargs)
        monkeypatch.setattr(D, name, spy)

    ctable = D.build_components_table(spark, SF_SMALL)
    ltable = D.lsh_index_table(SF_SMALL, spark)
    try:
        if not spark.catalog.tableExists(ltable):
            D.build_lsh_index(spark, SF_SMALL)
        calls.clear()
        with_index = D.update_components_table(spark, SF_SMALL, ctable)
        assert calls == ["match_lsh_index"]
        got = {tuple(r) for r in with_index.collect()}
        spark.sql(f"DROP TABLE {ltable}")
        calls.clear()
        without = D.update_components_table(spark, SF_SMALL, ctable)
        assert calls == ["q_dedup_incremental_lsh"]
        want = {tuple(r) for r in without.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ctable}")


def test_components_refresh_loop(spark):
    """The closed-loop components lifecycle: refresh (update +
    write-back) must leave the table equal to the full post-ingest
    membership, and a SECOND update over the refreshed table — the
    next ingest cycle's starting point, with the batch's merges now
    contracted into the stored clusters — must still equal the full
    recompute (label stability under contraction), idempotently."""
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators.dedup import (
        build_components_table, refresh_components_table,
        update_components_table,
    )

    table = build_components_table(spark, SF_SMALL)
    try:
        full = {(r.doc_id, r.component_id) for r in
                update_components_table(spark, SF_SMALL, table)
                .select("doc_id", "component_id").collect()}
        refresh_components_table(spark, SF_SMALL, table)
        stored = {(r.doc_id, r.component_id)
                  for r in spark.table(table).collect()}
        assert stored == full
        # the next cycle's update over the refreshed table
        again = {(r.doc_id, r.component_id) for r in
                 update_components_table(spark, SF_SMALL, table)
                 .select("doc_id", "component_id").collect()}
        assert again == full
        # and a second refresh is idempotent
        refresh_components_table(spark, SF_SMALL, table)
        stored2 = {(r.doc_id, r.component_id)
                   for r in spark.table(table).collect()}
        assert stored2 == full and len(full) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def _copy_corpus(tmp_path) -> str:
    """A private copy of the sf0.001 corpus, safe to rewrite in place."""
    import shutil

    from .conftest import SF_SMALL
    d = str(tmp_path / "corpus")
    shutil.copytree(SF_SMALL, d)
    return d


def _rewrite_documents(d: str, edit) -> None:
    """Rewrite ``d``'s documents.parquet in place with ``edit(pdf)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{d}/documents.parquet")
    pq.write_table(pa.Table.from_pandas(edit(t.to_pandas()),
                                        preserve_index=False,
                                        schema=t.schema),
                   f"{d}/documents.parquet")


def _with_dup_ids(pdf):
    import pandas as pd

    return pd.concat([pdf, pdf.iloc[[1, 3]]], ignore_index=True)


def _full_index(spark) -> str:
    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    table = D.lsh_index_table(SF_SMALL, spark)
    if not spark.catalog.tableExists(table):
        D.build_lsh_index(spark, SF_SMALL)
    return table


def test_match_lsh_warm_call_reuses_batch_side(spark, monkeypatch):
    """A warm match_lsh_index builds only its index side: the second
    call on one session reads no parquet schema (no
    ``DataFrameReader.parquet``) and serves the memoized batch side,
    with the same result."""
    from pyspark.sql.readwriter import DataFrameReader

    from .conftest import SF_SMALL
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    table = _full_index(spark)
    first = D.match_lsh_index(spark, SF_SMALL, table)
    side = D._MATCH_BATCH_MEMO._entries[SF_SMALL].df
    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.append(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    second = D.match_lsh_index(spark, SF_SMALL, table)
    assert reads == []
    assert D._MATCH_BATCH_MEMO._entries[SF_SMALL].df is side
    monkeypatch.undo()
    got = sorted(tuple(r) for r in second.collect())
    assert got == sorted(tuple(r) for r in first.collect()) and got


def test_match_lsh_memo_misses_after_inplace_rewrite(spark, tmp_path):
    """An in-place rewrite of documents.parquet changes the corpus
    state: the batch-side memo misses, and the match over the rebuilt
    index equals the DuckDB oracle on the NEW data, including a pair
    only the new data has."""
    import pandas as pd

    from .util_diff import canon, duck_con
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    d = _copy_corpus(tmp_path)
    tables = [D.build_lsh_index(spark, d)]
    try:
        D.match_lsh_index(spark, d).collect()
        side = D._MATCH_BATCH_MEMO._entries[d].df
        new_id = None

        def plant(pdf):
            nonlocal new_id
            new_id = (int(pdf.doc_id.max()) // D.NEW_BATCH_MOD + 1) \
                * D.NEW_BATCH_MOD
            row = pdf.iloc[[1]].assign(doc_id=new_id)
            return pd.concat([pdf, row], ignore_index=True)

        _rewrite_documents(d, plant)
        tables.append(D.build_lsh_index(spark, d))
        got = D.match_lsh_index(spark, d).toPandas()
        assert D._MATCH_BATCH_MEMO._entries[d].df is not side
        want = duck_con(d).execute(D.ORACLE_DEDUP_PERSISTED_LSH).df()
        pd.testing.assert_frame_equal(canon(got), canon(want),
                                      check_dtype=False)
        assert ((got.doc_new == new_id) | (got.doc_match == new_id)).any()
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_match_lsh_gate_raises_on_every_call(spark, tmp_path):
    """The pinned PK verdict stays fail-loud: on a duplicate-id corpus
    the gated match raises on the first and on every later execution
    (a failing verdict is never cached), including a memo-hit call."""
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    d = _copy_corpus(tmp_path)
    _rewrite_documents(d, _with_dup_ids)
    table = _full_index(spark)
    first = D.match_lsh_index(spark, d, table)
    for df in (first, first, D.match_lsh_index(spark, d, table)):
        with pytest.raises(Exception, match="PK precondition"):
            df.collect()


def test_match_lsh_gate_sees_inplace_duplicate_rewrite(spark, tmp_path):
    """A clean -> duplicate-id rewrite in place between two calls: the
    second call re-audits the new corpus state and raises, instead of
    reading the clean verdict cached by the first call."""
    from ngrams_collocations_hadoop_spark.operators import dedup as D

    d = _copy_corpus(tmp_path)
    table = _full_index(spark)
    assert D.match_lsh_index(spark, d, table).collect()
    _rewrite_documents(d, _with_dup_ids)
    with pytest.raises(Exception, match="PK precondition"):
        D.match_lsh_index(spark, d, table).collect()


def test_match_lsh_memo_hit_sees_appended_pairs(spark):
    """Match against the pre-batch index, append the batch, match again
    on the same session: the second call is a batch-side memo hit, yet
    it reads the index as appended, so it finds the new×new pairs and
    equals the persisted-LSH oracle. Memoizing the index read would
    miss them."""
    import pandas as pd

    from .conftest import SF_SMALL
    from .util_diff import canon, duck_con
    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from ngrams_collocations_hadoop_spark.sources.tables import load_table

    def new_new(df):
        return ((df.doc_new % D.NEW_BATCH_MOD == 0)
                & (df.doc_match % D.NEW_BATCH_MOD == 0)).sum()

    table = D.build_lsh_index(spark, SF_SMALL, old_only=True)
    before = D.match_lsh_index(spark, SF_SMALL, table).toPandas()
    side = D._MATCH_BATCH_MEMO._entries[SF_SMALL].df
    # an ingest loop refreshes the table between cycles: the append
    # below then lists the new files into a new relation, and a frame
    # analyzed before it keeps the old listing
    spark.catalog.refreshTable(table)
    D.append_lsh_index(spark, table, load_table(spark, SF_SMALL,
                                                "documents")
                       .filter(F.col("doc_id") % D.NEW_BATCH_MOD == 0))
    after = D.match_lsh_index(spark, SF_SMALL, table).toPandas()
    assert D._MATCH_BATCH_MEMO._entries[SF_SMALL].df is side
    assert new_new(before) == 0 and new_new(after) > 0
    want = duck_con(SF_SMALL).execute(D.ORACLE_DEDUP_PERSISTED_LSH).df()
    pd.testing.assert_frame_equal(canon(after), canon(want),
                                  check_dtype=False)
