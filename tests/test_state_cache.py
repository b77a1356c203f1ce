"""The one state layer (``plans.cache``): state-keyed table names, pinned
handles under concurrent callers and dead contexts, plan pins carried
as data, a context restarted in the same process, and threads sharing
one session."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time
from pathlib import Path
from types import SimpleNamespace

from ngrams_collocations_hadoop_spark.plans.cache import (
    StateCache, corpus_state, drop_stale_siblings, state_table_name)

from .conftest import SF_SMALL

ROOT = Path(__file__).resolve().parent.parent


def test_state_table_names_match_the_old_formula():
    """The helper reproduces the names each table family computed on
    its own, byte for byte, so existing warehouses keep their tables."""
    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from ngrams_collocations_hadoop_spark.operators import similarity as S

    def old(prefix, fname="documents.parquet", salt=None):
        dirh = hashlib.md5(SF_SMALL.encode()).hexdigest()[:6]
        st = corpus_state(SF_SMALL, fname=fname)
        state = (SF_SMALL if st is None
                 else f"{SF_SMALL}|{st[0]}|{st[1]}")
        if salt is not None:
            state = f"{state}|{salt}"
        return f"{prefix}_{dirh}_{hashlib.md5(state.encode()).hexdigest()[:8]}"

    assert D.lsh_index_table(SF_SMALL) == old(D.LSH_INDEX_TABLE)
    assert (D.lsh_index_table(SF_SMALL, old_only=True)
            == old(D.LSH_INDEX_TABLE) + "_prebatch")
    assert D.components_table(SF_SMALL) == old(D.COMPONENTS_TABLE)
    assert S.pq_index_table(SF_SMALL) == old(
        S.PQ_INDEX_TABLE, "embeddings.parquet", S.PQ_CB_SCHEME)
    assert state_table_name("t", SF_SMALL) == old("t")


def test_drop_stale_siblings_keeps_the_current_state():
    dirh = hashlib.md5(b"/c").hexdigest()[:6]
    names = [f"t_{dirh}_old", f"t_{dirh}_new", f"t_{dirh}_new_prebatch",
             f"t_{dirh}_new_cb", "t_other_old", f"u_{dirh}_old"]
    dropped: list[str] = []
    spark = SimpleNamespace(
        catalog=SimpleNamespace(
            listTables=lambda: [SimpleNamespace(name=n) for n in names]),
        sql=dropped.append)
    drop_stale_siblings(spark, "t", "/c", keep=f"t_{dirh}_new")
    assert dropped == [f"DROP TABLE IF EXISTS t_{dirh}_old"]


class _Frame:
    """A Spark-free stand-in for a DataFrame: ``plan`` is its semantics;
    ``persist`` may sleep; ``dead`` frames raise on any call, as a
    handle of a stopped context would."""

    def __init__(self, plan, delay: float = 0.0, dead: bool = False):
        self.plan, self.delay, self.dead = plan, delay, dead
        self.persisted = False

    def _live(self):
        assert not self.dead, "called into a dead context"

    def semanticHash(self):
        self._live()
        return hash(self.plan)

    def sameSemantics(self, other):
        self._live()
        return self.plan == other.plan

    def persist(self):
        self._live()
        time.sleep(self.delay)
        self.persisted = True
        return self

    def unpersist(self, blocking=False):
        self._live()
        self.persisted = False
        return self

    @property
    def storageLevel(self):
        self._live()
        return SimpleNamespace(useMemory=self.persisted, useDisk=False)


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_concurrent_pins_track_one_handle():
    """Two threads pin one plan at the same moment while ``persist`` is
    slow: both get the same handle, exactly one frame is persisted and
    exactly one handle is tracked."""
    cache = StateCache(max_entries=4)
    sess = _session("a")
    frames = [_Frame("p", delay=0.2) for _ in range(2)]
    got = [None, None]
    start = threading.Barrier(2)

    def worker(i: int) -> None:
        start.wait()
        got[i] = cache.pin(frames[i], sess, (1, 1))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert got[0] is got[1]
    assert sum(f.persisted for f in frames) == 1
    assert cache.handles == [got[0]]


def test_pin_guards_and_dead_context():
    """A pin hits only under the same session object, applicationId and
    state. A moved state or another live session unpersists the old
    handle; a handle from a stopped context is dropped without a call
    into it (calls would raise); eviction unpersists the oldest."""
    cache = StateCache(max_entries=2)
    s1 = _session("a1")
    h = cache.pin(_Frame("p"), s1, (1, 1))
    assert cache.pin(_Frame("p"), s1, (1, 1)) is h and h.persisted
    h2 = cache.pin(_Frame("p"), s1, (2, 1))              # state moved
    assert h2 is not h and not h.persisted and h2.persisted
    s2 = _session("a1")                                   # live sibling
    h3 = cache.pin(_Frame("p"), s2, (2, 1))
    assert h3 is not h2 and not h2.persisted
    h3.dead = True                                        # context stops
    s3 = _session("a2")
    h4 = cache.pin(_Frame("p"), s3, (2, 1))
    assert h4.persisted and cache.handles == [h4]
    q = cache.pin(_Frame("q"), s3, (2, 1))
    cache.pin(_Frame("r"), s3, (2, 1))                    # evicts h4
    assert not h4.persisted and q.persisted
    assert len(cache.handles) == 2


def test_pq_outer_hit_never_rebuilds_the_lloyd_chain(spark, monkeypatch):
    """The trained PQ query plan carries its codebook's Lloyd round
    handles as pins: with the inner codebook entry gone and the outer
    entry live, hits re-pin those handles and never rebuild the
    chain, and a hit after ``clearCache`` re-persists every pin."""
    from ngrams_collocations_hadoop_spark.operators import similarity as S

    S._PQ_QUERY_MEMO.clear()
    S._PQ_CB_MEMO.clear()
    a = S.q_pq_trained_topk(spark, SF_SMALL)
    S._PQ_CB_MEMO.clear()
    calls = []
    chain = S._pq_trained_chain

    def spy(*args, **kwargs):
        calls.append(args)
        return chain(*args, **kwargs)

    monkeypatch.setattr(S, "_pq_trained_chain", spy)
    assert S.q_pq_trained_topk(spark, SF_SMALL) is a
    spark.catalog.clearCache()
    assert S.q_pq_trained_topk(spark, SF_SMALL) is a
    assert calls == []
    key = ("trained", SF_SMALL)
    pins = S._PQ_QUERY_MEMO._entries[key].pins
    assert len(pins) == S.PQ_TRAIN_ITERS + 1
    for owner, h in pins:
        lvl = h.storageLevel
        assert lvl.useMemory or lvl.useDisk
        assert any(h is t for t in owner.handles)


RESTART_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from ngrams_collocations_hadoop_spark.session import get_spark
from tests.util_diff import assert_query_matches_oracle

for _ in range(2):
    spark = get_spark(app_name="restart", cpus=2)
    for name in ["dedup_minhash_lsh", "colloc_topk", "sim_pq_trained_topk"]:
        assert_query_matches_oracle(spark, name, sys.argv[2])
    spark.stop()
print("RESTART-OK")
"""


def test_restarted_context_serves_fresh_state():
    """Stop the session and create a new one in the same process: the
    token-pinned LSH query, the flagship and the trained PQ query each
    match their oracle again, so nothing from the dead context (plans
    or persisted handles) is served. Runs in a child process: the
    shared test session must not be stopped."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    out = subprocess.run(
        [sys.executable, "-c", RESTART_SCRIPT, str(ROOT), SF_SMALL],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300)
    assert "RESTART-OK" in out.stdout, out.stderr[-3000:]


def test_threads_on_one_session_match_oracles(spark):
    """Threads sharing one session run the flagship, a components
    query and a PQ query at once, twice each: every result matches its
    oracle, and each pinned-handle cache holds one handle per plan."""
    from concurrent.futures import ThreadPoolExecutor

    from ngrams_collocations_hadoop_spark.operators import dedup as D
    from ngrams_collocations_hadoop_spark.operators import similarity as S

    from .util_diff import assert_query_matches_oracle

    names = ["colloc_topk", "dedup_components_lsh",
             "sim_pq_trained_topk"] * 2
    with ThreadPoolExecutor(len(names)) as ex:
        list(ex.map(
            lambda n: assert_query_matches_oracle(spark, n, SF_SMALL),
            names))
    for cache in (D._TOK_LIVE, S._PQ_CENT_LIVE, S._PQ_TRAIN_LIVE):
        hs = cache.handles
        assert not any(a.sameSemantics(b) for i, a in enumerate(hs)
                       for b in hs[i + 1:])
