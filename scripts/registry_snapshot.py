#!/usr/bin/env python
"""Snapshot registry queries for a before/after comparison of a change:
one JSON line per matching query with its oracle text, the canonical
row hash of the oracle's DuckDB result on SF_DIR, and the Spark
builder's optimized logical plan with the ``#<id>`` attribute suffixes
and the ``plan_id=<id>`` exchange ids of cached subtrees stripped.

Usage: python scripts/registry_snapshot.py SF_DIR PATTERN [PATTERN ...]

Each pattern is a query name or an fnmatch pattern over the registry
names. Run it on two checkouts with the same arguments and diff the
outputs: equal ``oracle`` texts need no further check, a changed text
must keep its ``row_hash``, and ``plan`` shows whether the Spark side
changed beyond attribute ids. The row hash is the sha256 of the rows
in ``sweep_correctness.canon_text`` form (columns sorted by name,
floats rounded to 6, rows sorted), so it is the value the oracle
comparison sees. Building a plan runs the builder, including any eager
jobs it starts (graph-loop checkpoints, index builds).
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from sweep_correctness import canon_text  # noqa: E402


def row_hash(con, sql: str) -> tuple[int, str]:
    """(row count, sha256 of the canonical rows) of ``sql`` in DuckDB."""
    df = canon_text(con.execute(sql).df())
    text = df.to_csv(index=False, lineterminator="\n")
    return len(df), hashlib.sha256(text.encode()).hexdigest()


def stripped_plan(df) -> str:
    """The optimized logical plan without attribute or exchange ids."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+|(?<=plan_id=)\d+", "", plan)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, patterns = sys.argv[1], sys.argv[2:]
    from ngrams_collocations_hadoop_spark.registry import ORACLES, QUERIES
    from ngrams_collocations_hadoop_spark.session import get_spark
    from ngrams_collocations_hadoop_spark.sources.tables import TABLE_NAMES

    unmatched = [p for p in patterns if not fnmatch.filter(QUERIES, p)]
    if unmatched:
        sys.exit(f"no registry query matches {unmatched}")
    names = [n for n in QUERIES
             if any(fnmatch.fnmatchcase(n, p) for p in patterns)]
    spark = get_spark(app_name="snapshot", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    for name in names:
        oracle = ORACLES.get(name)
        rows, digest = row_hash(con, oracle) if oracle else (None, None)
        plan = stripped_plan(QUERIES[name](spark, sf_dir))
        print(json.dumps({"name": name, "oracle": oracle, "rows": rows,
                          "row_hash": digest, "plan": plan}), flush=True)


if __name__ == "__main__":
    main()
