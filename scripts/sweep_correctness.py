#!/usr/bin/env python
"""Local reproduction of the driver's CORRECTNESS gate, strict form:
for every registry query, run Spark and the DuckDB oracle at sf0.01 and
compare rows / schema / EXACT canonical value text (floats rounded to 6
then stringified — the driver hashes the rounded text, so atol-passes
that would hash-mismatch are reported as HASHFLAP here).

Usage: python scripts/sweep_correctness.py [sf_dir] [pattern ...]

Each pattern is a query name or an fnmatch pattern over the registry
names (``'sim_*' dedup_lsh_recall``); with none, every query runs.
Matches run in registry order.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def canon_text(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind == "M":
            # Stringify datetimes PER COLUMN: frame-level astype(str)
            # formats per consolidated block, so a whole-seconds column
            # can print with or without '.000000' depending on whether
            # a SIBLING column in the same block has sub-second values
            # — which differs between the Spark and DuckDB frames'
            # block layouts. Per-column astype(str) decides from the
            # column's own values, identical on both sides.
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.astype(str)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from ngrams_collocations_hadoop_spark.registry import ORACLES, QUERIES
    from ngrams_collocations_hadoop_spark.session import get_spark
    from ngrams_collocations_hadoop_spark.sources.tables import TABLE_NAMES

    patterns = sys.argv[2:] or ["*"]
    unmatched = [p for p in patterns if not fnmatch.filter(QUERIES, p)]
    if unmatched:
        sys.exit(f"no registry query matches {unmatched}")
    names = [n for n in QUERIES
             if any(fnmatch.fnmatchcase(n, p) for p in patterns)]
    # no console progress bars: their carriage returns splice into the
    # PASS/FAIL lines, breaking line-anchored grep over the log
    spark = get_spark(app_name="sweep", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            a = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}",
                  flush=True)
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"ROWS  {name}: {len(a)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]", flush=True)
            continue
        try:
            b = con.execute(ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}",
                  flush=True)
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rows spark={len(a)} duck={len(b)}",
                  flush=True)
            n_fail += 1
            continue
        if sorted(a.columns) != sorted(b.columns):
            print(f"FAIL  {name}: cols spark={sorted(a.columns)} "
                  f"duck={sorted(b.columns)}", flush=True)
            n_fail += 1
            continue
        ca, cb = canon_text(a), canon_text(b)
        if ca.equals(cb):
            print(f"PASS  {name}: {len(a)} rows [{time.time()-t0:.1f}s]",
                  flush=True)
            n_pass += 1
        else:
            diff = (ca != cb).any(axis=1)
            ncell = int((ca != cb).sum().sum())
            print(f"HASHFLAP {name}: {int(diff.sum())}/{len(ca)} rows differ "
                  f"({ncell} cells) [{time.time()-t0:.1f}s]", flush=True)
            # show up to 3 differing rows side by side
            for i in ca.index[diff][:3]:
                cols = [c for c in ca.columns if ca.at[i, c] != cb.at[i, c]]
                for c in cols[:4]:
                    print(f"    row{i} {c}: spark={ca.at[i, c]!r} "
                          f"duck={cb.at[i, c]!r}", flush=True)
            n_fail += 1
    print(f"DONE pass={n_pass} fail={n_fail} total={len(names)}", flush=True)


if __name__ == "__main__":
    main()
