"""The one in-process state layer: memoized plans, pinned handles and
state-keyed table names.

``StateCache`` holds two kinds of entry, one kind per instance:

- Memoized plans (``plan``). Building a heavy operator's Column trees
  costs ~0.3-0.9 s of py4j round-trips per call, for a plan that is a
  pure function of (key, input state). The cache stores the DataFrame
  HANDLE, not a result: every write, ``count`` or derived frame plans
  and runs the full DAG from the inputs. One caveat: ``collect`` and
  ``toPandas`` reuse the handle's own QueryExecution, so a repeated
  one skips the shuffle map stages whose outputs Spark still holds and
  runs only the last stage. Those outputs came from the same input
  state the hit was keyed on, and they stay on local disk while the
  entry lives. Only memoize pure plan construction: a hit skips the
  builder, so it must not materialize anything or read the catalog.
  A builder returns ``(df, pins)``: ``df`` is the plan (a DataFrame,
  or a tuple of them for a plan served in parts), and ``pins`` the
  persisted handles it reads, as ``(owner, handle)`` pairs. A hit
  re-pins each through its owner, exactly as a fresh build would
  have.
- Persisted handles (``pin``), keyed on plan semantics
  (``semanticHash``, confirmed by ``sameSemantics``). Spark's
  CacheManager keys on the analyzed plan, so re-persisting an equal
  plan only leaves an untracked handle that nothing unpersists; the
  cache holds ONE handle per distinct plan, bounded, and unpersists
  what it drops.

Users: the plan memos ``_COLLOC_MEMO``, ``_PQ_QUERY_MEMO``,
``_PQ_CB_MEMO`` and ``dedup._MATCH_BATCH_MEMO`` (the LSH match's
batch side, guarded on the index's bucket count too); the pinned
handles ``_TOK_LIVE``, ``_INC_CC_LIVE``, ``_PQ_CENT_LIVE``,
``_PQ_TRAIN_LIVE``, ``dedup._BATCH_BANDS_LIVE`` (the match batch's
band rows, stored in the index's bucket layout: one signing per
corpus state) and ``tables._PK_VERDICT_LIVE`` (one-row PK verdicts:
one audit per corpus state per session).

One guard decides every hit: the same session object, the same
``applicationId`` (a stopped-and-recreated context must never get
Columns or handles wrapping dead JVM objects) and an equal input
state (the ``corpus_state`` pair — plan semantics cannot see an
in-place rewrite of a file). A state of None (the stat failed) never
hits: the call builds, or persists nothing, and stores nothing. On a
miss a handle from the same live context is unpersisted; one from a
dead context is dropped without calling into it. Eviction is LRU past
``max_entries`` (a hit moves the key to the recent end). One lock per
cache guards its entries; plan builders run outside it (a builder may
re-enter its own cache), persists run inside it (two threads pinning
one plan track one handle).
"""

from __future__ import annotations

import hashlib
import os
import threading
import warnings
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession


def corpus_state(sf_dir: str, spark: SparkSession | None = None,
                 fname: str = "documents.parquet"
                 ) -> tuple[int, int] | None:
    """(mtime_ns, size_bytes) of the corpus' ``fname`` input
    (documents by default; the PQ index keys on embeddings) — the
    state key of every state-keyed table name and ``StateCache``
    entry. Driver-local ``os.stat`` first; on OSError
    (the input is not on a local filesystem — HDFS/S3 in production)
    fall back to the Hadoop FileSystem API through the JVM when a
    session is available, and otherwise WARN loudly (ADVICE r06): a
    silent None would reinstate the stale-index aliasing this stat
    exists to prevent."""
    path = f"{sf_dir}/{fname}"
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return st.st_mtime_ns, st.st_size
        # Directory-of-parts corpora — the PRODUCTION shape, and what
        # Spark writers produce: the directory inode's own stat is
        # ~4 KB and its mtime misses in-place part rewrites, which
        # would floor the bucket policy at 8 forever AND alias a
        # rewritten corpus to its stale index (found by the r07
        # factor-axis probe rerun: the 9.6 MB 16x corpus got 8
        # buckets). Aggregate over the part files instead.
        mtime, size = st.st_mtime_ns, 0
        for root, _, files in os.walk(path):
            for f in files:
                fst = os.stat(os.path.join(root, f))
                mtime = max(mtime, fst.st_mtime_ns)
                size += fst.st_size
        return mtime, size
    except OSError:
        pass
    if spark is not None:
        try:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            st = fs.getFileStatus(p)
            size = fs.getContentSummary(p).getLength()
            return st.getModificationTime() * 1_000_000, size
        except Exception:
            pass
    warnings.warn(
        f"cannot stat {path} (local or Hadoop FS): state-keyed table "
        f"names (LSH/PQ index, components) degrade to path-only "
        f"keying — a rewritten corpus at the same path WILL alias a "
        f"stale table", stacklevel=2)
    return None


class _Entry(NamedTuple):
    session: SparkSession
    app: str
    state: object
    df: DataFrame
    pins: list | None   # None: the entry IS a pinned handle


def _app_id(spark: SparkSession | None) -> str | None:
    try:
        return spark.sparkContext.applicationId
    except Exception:   # stopped/stopping context
        return None


class StateCache:
    """Guarded, LRU-bounded memo of plans or persisted handles (see
    the module doc)."""

    def __init__(self, max_entries: int) -> None:
        self.max_entries = max_entries
        # key -> _Entry, least recently used first
        self._entries: dict = {}
        self._lock = threading.Lock()

    @property
    def handles(self) -> list[DataFrame]:
        return [e.df for e in list(self._entries.values())]

    def plan(self, key, spark: SparkSession, state: object,
             build: Callable[[], tuple[DataFrame, list]],
             layout: object = None) -> tuple[DataFrame, list]:
        """``(df, pins)`` for ``key``: the stored pair on a guard hit
        (its pins re-pinned), else ``build()``'s, stored. A ``layout``
        (a parameter the plan was built for, read from outside the
        input) joins the guarded state as ``(state, layout)``; the pins
        are re-pinned under ``state`` alone, as they were pinned."""
        app = _app_id(spark)
        if state is None or app is None:
            return build()
        guarded = state if layout is None else (state, layout)
        with self._lock:
            ent = self._entries.pop(key, None)
            if ent is not None:
                self._entries[key] = ent
        if ent is not None and _holds(ent, spark, app, guarded):
            for owner, h in ent.pins:
                owner.pin(h, spark, state)
            return ent.df, ent.pins
        df, pins = build()
        with self._lock:
            self._entries.pop(key, None)
            self._entries[key] = _Entry(spark, app, guarded, df, pins)
            self._trim(app)
        return df, pins

    def pin(self, df: DataFrame, spark: SparkSession,
            state: object) -> DataFrame:
        """The tracked persisted handle for ``df``'s plan: the stored
        one on a guard hit (re-persisted if a ``catalog.clearCache()``
        orphaned it), else ``df`` itself, persisted and stored."""
        app = _app_id(spark)
        key = df.semanticHash()
        with self._lock:
            ent = self._entries.pop(key, None)
            if ent is not None:
                if _holds(ent, spark, app, state) and \
                        df.sameSemantics(ent.df):
                    self._entries[key] = ent
                    lvl = ent.df.storageLevel
                    if not (lvl.useMemory or lvl.useDisk):
                        ent.df.persist()
                    return ent.df
                _release(ent, app)
            if state is None or app is None:
                return df
            df = df.persist()
            self._entries[key] = _Entry(spark, app, state, df, None)
            self._trim(app)
        return df

    def clear(self) -> None:
        """Drop every entry, unpersisting live handles (test hook)."""
        with self._lock:
            while self._entries:
                ent = self._entries.popitem()[1]
                _release(ent, _app_id(ent.session))

    def _trim(self, app: str) -> None:
        while len(self._entries) > self.max_entries:
            _release(self._entries.pop(next(iter(self._entries))), app)


def _holds(ent: _Entry, spark: SparkSession, app: str,
           state: object) -> bool:
    return (ent.session is spark and ent.app == app
            and state is not None and ent.state == state)


def _release(ent: _Entry, app: str | None) -> None:
    """Unpersist a dropped handle unless its context is gone."""
    if ent.pins is None and ent.app == app:
        ent.df.unpersist(blocking=False)


def state_table_name(prefix: str, sf_dir: str,
                     spark: SparkSession | None = None,
                     fname: str = "documents.parquet",
                     salt: str | None = None) -> str:
    """Catalog name of a table derived from a corpus STATE:
    ``<prefix>_<dirhash>_<statehash>``. dirhash keys the corpus PATH
    (stable across rewrites, so ``drop_stale_siblings`` can scope to
    it); statehash keys the ``fname`` input's (mtime, size) and
    ``salt`` (a scheme tag), so tables built from different corpora,
    states or schemes never alias, and an in-place rewrite changes the
    name — a build-if-absent caller rebuilds instead of reading a
    stale table."""
    dirh = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    st = corpus_state(sf_dir, spark, fname=fname)
    state = sf_dir if st is None else f"{sf_dir}|{st[0]}|{st[1]}"
    if salt is not None:
        state = f"{state}|{salt}"
    return f"{prefix}_{dirh}_{hashlib.md5(state.encode()).hexdigest()[:8]}"


def drop_stale_siblings(spark: SparkSession, prefix: str, sf_dir: str,
                        keep: str) -> None:
    """Drop the ``state_table_name`` tables of OTHER states of the same
    corpus path: loops that rewrite a corpus in place would otherwise
    leak one full table copy per rewrite. Names starting with ``keep``
    (the current state's table and its suffixed twins) survive."""
    dirh = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    for t in spark.catalog.listTables():
        if (t.name.startswith(f"{prefix}_{dirh}_")
                and not t.name.startswith(keep)):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
