"""Tests of the benchmark harness's own helpers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import time

import pytest

from perfbench import corpus, run, stats
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# --- corpus generator -----------------------------------------------------

def test_generator_is_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    a, sa = corpus.zipf_documents(7, 300, dup_share=0.05)
    b, sb = corpus.zipf_documents(7, 300, dup_share=0.05)
    c, _ = corpus.zipf_documents(8, 300, dup_share=0.05)
    assert a.equals(b) and sa == sb
    assert not a.equals(c)
    # the child-process path writes the same corpus and stats
    st = corpus.generate(7, str(tmp_path), n_docs=300, dup_share=0.05)
    assert st == sa
    assert pq.read_table(tmp_path / "documents.parquet").equals(a)


def test_generator_ids_and_properties():
    table, st = corpus.zipf_documents(3, 2000, dup_share=0.05)
    ids = table.column("doc_id").to_pylist()
    assert ids == list(range(2000))          # unique: the PK gate passes
    texts = table.column("text").to_pylist()
    assert st.tokens == sum(len(t.split(" ")) for t in texts)
    slow = sum(not re.fullmatch(r"[a-z0-9]+", tok)
               for t in texts for tok in t.split(" "))
    assert st.slow_path_share == pytest.approx(slow / st.tokens)
    assert 0.18 < st.slow_path_share < 0.24
    assert 0.15 < st.stopword_share < 0.40
    assert st.vocab_types > 1000
    # the reference stopwords are the most frequent types
    counts = {}
    for t in texts:
        for tok in t.split(" "):
            counts[tok] = counts.get(tok, 0) + 1
    top = sorted(counts, key=counts.get, reverse=True)[:3]
    assert set(top) <= set(corpus.STOP_RANKS)


def test_planted_pairs_differ_in_one_token():
    table, st = corpus.zipf_documents(5, 1000, min_len=80, max_len=160,
                                      dup_share=0.05)
    texts = table.column("text").to_pylist()
    assert len(st.planted_pairs) == 50
    for lo, hi in st.planted_pairs:
        a, b = texts[lo].split(" "), texts[hi].split(" ")
        assert len(a) == len(b)
        assert sum(x != y for x, y in zip(a, b)) == 1
        sa, sb = set(a), set(b)
        assert len(sa & sb) / len(sa | sb) >= 0.95


# --- percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n, value, pct", [
    (20, 10, 50.0),      # 10 samples beyond the 10th
    (100, 90, 90.0),
    (11, 1, 100 / 11),
    (10, 10, 100.0),     # too few samples: the maximum
    (1, 1, 100.0),
])
def test_tail_percentile_rule(n, value, pct):
    samples = list(range(n, 0, -1))          # order must not matter
    got, p = stats.tail(samples)
    assert got == value and p == pytest.approx(pct)
    assert sum(s > got for s in samples) == (10 if n > 10 else 0)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


# --- tracer -----------------------------------------------------------------

def test_tracer_self_time_excludes_children():
    tr = Tracer(True)
    with tr.span("outer", "a"):
        time.sleep(0.02)
        with tr.span("inner", "b"):
            time.sleep(0.03)
    self_s = tr.self_times()
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    total = outer["end"] - outer["start"]
    assert self_s["b"] == pytest.approx(inner["end"] - inner["start"])
    assert self_s["a"] == pytest.approx(total - self_s["b"])
    assert 0.015 < self_s["a"] < total


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x", "a"):
        pass
    assert tr.spans == [] and tr.overhead_s == 0.0


# --- status-store reader ----------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ngrams_collocations_hadoop_spark.session import get_spark

    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path_factory.mktemp("wh"))
    s = get_spark(app_name="perfbench-test", cpus=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_stage_counter_reads_new_stages(spark):
    from pyspark.sql import functions as F

    from perfbench.engine import StageCounter, core_idle_share, peak_rss_mb

    counter = StageCounter(spark)
    (spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count()
     .collect())
    t = counter.take()
    assert t.stages >= 2                     # map stage + reduce stage
    assert t.tasks >= t.stages and t.failed_tasks == 0
    assert t.shuffle_write_bytes > 0 and t.shuffle_read_bytes > 0
    assert t.executor_run_s >= 0 and t.executor_cpu_s >= 0
    assert 0.0 <= core_idle_share(t, wall_s=60.0, cores=2) <= 1.0
    assert counter.take().stages == 0        # nothing ran since
    assert peak_rss_mb(spark) > 100


def test_host_speed_scales_timings(spark):
    from perfbench.engine import HostSpeed

    host = HostSpeed(spark)
    assert len(host.samples) == 3            # timed at start
    host.sample()
    host.sample()
    assert len(host.samples) == 5 and min(host.samples) > 0
    assert host.scale() == pytest.approx(
        HostSpeed.REF_S / sorted(host.samples)[2])
    res = {"ops": [{"latency_s": 2.0, "work": 10}, {"latency_s": 4.0,
                                                     "work": 20}],
           "host": host, "peak_rss_mb": 1.0, "setup_s": 5.0}
    got = run.end_to_end(res)
    assert got["latency_p50_ref_s"] == pytest.approx(3.0 * host.scale())
    assert got["throughput_ref_per_s"] == pytest.approx(5.0 / host.scale())
    assert got["setup_s"] == 5.0       # set-up time is reported as measured


# --- BENCHMARK.json agrees with the harness ----------------------------------

def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    from perfbench.workloads import WORKLOADS
    assert tuple(WORKLOADS) == run.WORKLOADS
