#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with the no-op sink (full plan
runs, nothing is collected to the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ngrams_collocations_hadoop_spark.session import get_spark  # noqa: E402

# Headline queries benched per round. Keep to the expensive/representative
# ones — the full registry runs in the correctness gate, not here.
BENCH_QUERIES = [
    "colloc_topk",           # flagship: full reference pipeline
    "colloc_scored",
    # colloc_unigram_counts retired r05: fully subsumed by
    # colloc_scored's subtree (VERDICT r04 item #8 — keep the bench
    # tight as compositions are added)
    "rel_star_join",         # fact⋈fact + broadcast dims
    "rel_topk_per_group",    # window group limit
    "rel_sessionize",        # window analytics over events
    "rel_zorder_layout",     # Morton layout: map-side interleave + agg
    "dedup_minhash_lsh",     # sketch + band join + verify
    "dedup_components_lsh",  # LSH edges -> iterative clustering
    "sim_cosine_topk",       # vector scoring
    "text_quality",          # array-lambda text ops
    "stream_tumbling",       # structured streaming end-to-end
    "pipeline_training_prep",  # flagship composition (quality->dedup->pack)
    "dedup_semantic",        # k-means assign + within-cluster pairs
    "text_dsir_weights",     # LM aggregates + token-join scoring
    "text_bpe_learn",        # iterative merge training (vocab-bounded)
    "sim_pq_topk",           # PQ encode + ADC scoring (ANN family)
    "sim_pq_rerank",         # two-stage: ADC shortlist -> exact re-rank
    "sim_pq_trained_topk",   # Lloyd-trained codebook: train + encode + ADC
    "sim_pq_sampled_topk",   # production fixed-budget sampled training
    # persisted PQ-codes lifecycle: run 1 carries training+encode+write
    # (first_run_cold — the stored codebook is the production
    # sampled-Lloyd one since r10, so the cold build now includes the
    # Lloyd iterations the serve amortizes per refresh); warm =
    # serve-only against the materialized table — the amortized ANN
    # steady state
    "sim_pq_persisted_topk",
    "pipeline_ingest",       # incremental-ingest composition
    "pipeline_embed_ingest",  # embeddings ingest: resolve -> gate -> dedup
    "dedup_persisted_lsh",   # bucketed band-index build + batch match
    # match-only lifecycle row (VERDICT r05 #3): must run AFTER
    # dedup_persisted_lsh in this list — that row's build leaves the
    # state-keyed index table in the catalog, so every timed run here
    # is the amortized per-ingest cost with the build hoisted.
    "dedup_persisted_lsh_match",
    # amortized per-ingest clustering (VERDICT r08 #3): build-if-absent
    # leaves the state-keyed components table in the catalog, so run 1
    # carries the build (visible in first_run) and the min is the
    # lifecycle's per-ingest UPDATE cost — the components sibling of
    # the match row above. Runs after dedup_persisted_lsh left the
    # band index in the catalog, so the batch pairs come from the
    # zero-exchange index match (the composed-lifecycles path).
    "dedup_components_update",
    # streaming-ingest-maintains-the-index composition (r10): each run
    # is self-contained — prebatch index build + 2-micro-batch gated
    # stream with foreachBatch appends + match over the maintained
    # index — so this row times the full continuous-ingest tick, not
    # an amortized leg (the legs are probed separately:
    # scripts/probe_append_legs.py, a script since removed; it remains
    # in git history).
    "stream_lsh_ingest",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="bench")

    from ngrams_collocations_hadoop_spark.registry import QUERIES

    names = [n for n in BENCH_QUERIES if n in QUERIES]
    # Per-query: one warm-up at the smallest sf (JIT / codegen), then
    # the timed runs IMMEDIATELY — interleaved rather than
    # all-warm-ups-first, so earlier heavy queries' leftover JVM state
    # (checkpoint blocks, state stores, memory-sink tables) doesn't
    # pollute later timings; measured r04: colloc_topk 3.6 s polluted
    # vs 1.6 s clean on identical code.
    import gc

    import statistics

    def _cpu_jiffies() -> tuple[int, int]:
        """(busy-for-us, steal) jiffies from /proc/stat — the r10
        measurement-conditions probe: this sandbox suffers bursty
        hypervisor CPU steal (40-44% for minutes at a time, measured
        r10), which inflates exactly the parallel-heavy rows. Steal is
        RECORDED per query into bench_full.json so a contaminated run
        is attributable from the artifact alone; timings are not
        adjusted."""
        try:
            with open("/proc/stat") as f:
                p = f.readline().split()
            return (sum(int(p[i]) for i in (1, 2, 3, 6, 7)), int(p[8]))
        except (OSError, IndexError, ValueError):
            return (0, 0)

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    steal_pct: dict[str, float] = {}
    steal_min_pct: dict[str, float] = {}
    for name in names:
        if name == "dedup_persisted_lsh_match":
            # Guard the list-order coupling (VERDICT r06 watch item):
            # this row is only the amortized MATCH cost because the
            # dedup_persisted_lsh row before it left the state-keyed
            # index in the catalog. A reorder would silently turn the
            # timing into build+match — fail loudly instead.
            from ngrams_collocations_hadoop_spark.operators.dedup import (
                lsh_index_table)
            assert spark.catalog.tableExists(
                lsh_index_table(sf_dir, spark)), (
                "dedup_persisted_lsh_match must run AFTER "
                "dedup_persisted_lsh (build hoisted); reordering would "
                "silently time build+match")
        QUERIES[name](spark, "/root/testdata/sf0.001") \
            .write.format("noop").mode("overwrite").save()
        runs: list[float] = []
        # 5 runs for EVERY query (r10 measurement fix, declared in
        # OPTIMIZATION_r10.md): this box suffers bursty hypervisor CPU
        # steal (40-44% for minutes — see scripts/steal_probe.py, a
        # script since removed; it remains in git history), and
        # the former 3-run minimum for ≥3 s-median rows made exactly
        # the expensive rows the ones most likely to have ALL their
        # runs land inside one burst (observed r10:
        # dedup_components_lsh = [14.5, 28.6, 60.0] vs a quiet-window
        # 5.6 s). Five runs widen the window a min can escape through;
        # timing stays MIN, medians still published, so the record
        # remains comparable with r01-r09 (those rows' former
        # methodology was the same min-of-runs with n in {3,5}). All
        # run times are emitted so regressions vs jitter are
        # attributable from the artifact alone: a real regression
        # shifts the MEDIAN; a transient stall widens max-min with a
        # stable min.
        # Steal-robust timing (r11, VERDICT r10 #1): steal is now
        # measured PER RUN, and when the run that produced the row's
        # MIN was itself contaminated (>= 5% steal — min-of-5 cannot
        # escape a multi-minute 40% burst), the row gets up to 3
        # bounded extra runs; timing stays MIN over ALL runs (extra
        # runs can only lower a min, so the r01-r10 basis is
        # unchanged), the median stays over the FIRST 5 runs (the
        # r10-comparable dispersion), and rows whose best run still
        # carries >= 5% steal are flagged on the compact line
        # (steal_flagged) so the driver's record is adjudicable or
        # visibly contaminated, never silently both.
        jif: list[tuple[int, int]] = []   # (busy, steal) per run

        def _timed_run() -> None:
            rb0, rs0 = _cpu_jiffies()
            t0 = time.time()
            (QUERIES[name](spark, sf_dir)
             .write.format("noop").mode("overwrite").save())
            runs.append(round(time.time() - t0, 3))
            rb1, rs1 = _cpu_jiffies()
            jif.append((rb1 - rb0, rs1 - rs0))

        def _run_steal(i: int) -> float:
            db, ds = jif[i]
            return round(100.0 * ds / max(1, db + ds), 2)

        def _min_run_steal() -> float:
            return _run_steal(min(range(len(runs)), key=runs.__getitem__))

        while len(runs) < 5:
            _timed_run()
        while _min_run_steal() >= 5.0 and len(runs) < 8:
            _timed_run()
        db = sum(j[0] for j in jif)
        ds = sum(j[1] for j in jif)
        steal_pct[name] = round(100.0 * ds / max(1, db + ds), 2)
        steal_min_pct[name] = _min_run_steal()
        timings[name] = min(runs)   # headline stays min: continuity
        medians[name] = round(statistics.median(runs[:5]), 3)
        all_runs[name] = runs
        spark.catalog.clearCache()
        gc.collect()  # drop checkpoint/block refs so ContextCleaner
        #               can reclaim them before the next query

    # Cold/warm split as an ARTIFACT (VERDICT r08 #5): training-bearing
    # and lifecycle rows (trained/sampled PQ, persisted LSH build,
    # components update) amortize a one-time cost that min-of-runs
    # hides in the raw run list. Surface every row whose first timed
    # run materially exceeds its min — first_run − min ≈ the amortized
    # one-time cost (codebook training, index/table build).
    first_run_cold = {
        n: r[0] for n, r in all_runs.items()
        if r and r[0] > max(min(r) + 0.5, 1.3 * min(r))
    }
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,          # per-query MIN (the r01-r05 basis)
        "queries_median": medians,   # dispersion: shifts = regressions
        "first_run_cold": first_run_cold,  # rows where run 1 carries a
        #   one-time (training/build) cost; full split in queries_runs
        "sf": float(sf),
        "runs_per_query": "5 (+<=3 if min-run steal >= 5%); timing = min",
        # rows whose BEST run was still measured under >= 5% hypervisor
        # steal after the bounded re-runs — their wall numbers are
        # inflated by the environment, attributable from this line
        # alone (r11; usually {})
        "steal_flagged": {n: p for n, p in steal_min_pct.items()
                          if p >= 5.0},
    }
    prev = _latest_recorded_bench()
    if prev:
        if "value" in prev:
            out["prev_total"] = prev["value"]
        out["delta_vs_prev"] = {
            n: round(t - prev["queries"][n], 3)
            for n, t in timings.items() if n in prev.get("queries", {})
        }
        if "queries_median" in prev:
            out["delta_median_vs_prev"] = {
                n: round(m - prev["queries_median"][n], 3)
                for n, m in medians.items()
                if n in prev["queries_median"]
            }
    # The FULL record (every run time, in order) goes to a file: the
    # driver tails stdout and r06/r07 proved a line carrying all of
    # queries_runs overflows its capture window, leaving
    # BENCH_r{N}.json with parsed=null (VERDICT r07 #1). The compact
    # summary — totals, per-query min/median, deltas — is printed as
    # the LAST line so the driver's JSON parse always succeeds;
    # queries_runs lives in bench_full.json, referenced by path.
    full = dict(out)
    full["queries_runs"] = all_runs
    full["queries_first_run"] = {n: r[0] for n, r in all_runs.items() if r}
    # measurement conditions (r10): hypervisor CPU-steal fraction over
    # each query's timed runs — a row whose steal is high was measured
    # inside a contention burst and its wall numbers are inflated
    # no matter what the code does (see OPTIMIZATION_r10.md)
    full["queries_steal_pct"] = steal_pct
    # steal over the single run that produced each row's MIN — the
    # number that decides whether the headline timing is trustworthy
    # (the row-level aggregate above can be high while the min run was
    # quiet, and vice versa)
    full["queries_steal_min_pct"] = steal_min_pct
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "bench_full.json")
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
        out["full_record"] = "bench_full.json"
        # per-round snapshot (ADVICE r08): bench_full.json is
        # overwritten by any interim ad-hoc run, which silently breaks
        # the next round's medians merge; a round-numbered copy
        # (next round = newest recorded BENCH_r{N} + 1) survives it.
        rn = _next_round_number()
        if rn is not None:
            with open(os.path.join(here,
                                   f"bench_full_r{rn:02d}.json"),
                      "w") as f:
                json.dump(full, f, indent=1)
    except OSError:
        # a read-only checkout still gets the compact line
        out["full_record"] = None
    # The driver captures ~2000 chars of stdout; a longer line is what
    # turned BENCH_r06/r07's parsed to null. Shed the line's bulkiest
    # maps (they all live complete in bench_full.json) until the
    # summary is safely inside the window. Shed order matters: the
    # min-basis delta map first (fully derivable from this record +
    # prev), medians second (recoverable next round from the
    # committed bench_full.json — _latest_recorded_bench merges it),
    # and the median delta LAST — it is the regression signal and
    # must survive on the line whenever it fits.
    for shed in ("delta_vs_prev", "queries_median", "first_run_cold",
                 "delta_median_vs_prev"):
        if len(json.dumps(out)) <= 1800:
            break
        out.pop(shed, None)
    print(json.dumps(out))


def _next_round_number() -> int | None:
    """Newest driver-recorded BENCH_r{N} + 1 — the round this run's
    record will belong to (None before the first recorded round)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # anchored to the basename (ADVICE r09): a checkout path containing
    # '_r<digits>' (e.g. /data_r2/repo) must not mis-parse the round
    rounds = [int(m.group(1)) for p in glob.glob(f"{here}/BENCH_r*.json")
              if (m := re.search(r"^BENCH_r(\d+)\.json$",
                                 os.path.basename(p)))]
    return max(rounds) + 1 if rounds else None


def _latest_recorded_bench() -> dict | None:
    """Parsed result of the newest BENCH_r{N}.json the driver recorded,
    so per-query regressions are attributable round-over-round."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    files = [p for p in glob.glob(f"{here}/BENCH_r*.json")
             if re.search(r"^BENCH_r(\d+)\.json$", os.path.basename(p))]
    if not files:
        return None
    files.sort(key=lambda p: int(
        re.search(r"^BENCH_r(\d+)\.json$", os.path.basename(p)).group(1)))
    try:
        with open(files[-1]) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    if rec.get("parsed"):
        prev = dict(rec["parsed"])
        # The compact line sheds queries_median when tight; the full
        # record of the SAME run was committed as bench_full.json.
        # Merge the medians back when the two records demonstrably
        # come from one run (identical per-query min maps) — this is
        # what keeps delta_median_vs_prev alive round over round
        # (review find r08).
        if "queries_median" not in prev:
            merged = False
            # prefer the round-numbered snapshot (immune to interim
            # ad-hoc overwrites of bench_full.json — ADVICE r08), fall
            # back to the mutable file, same same-run equality guard
            rn = re.search(r"^BENCH_r(\d+)\.json$",
                           os.path.basename(files[-1])).group(1)
            for cand in (f"{here}/bench_full_r{rn}.json",
                         f"{here}/bench_full.json"):
                try:
                    with open(cand) as f:
                        fullrec = json.load(f)
                except (OSError, ValueError):
                    continue
                if fullrec.get("queries") == prev.get("queries"):
                    try:
                        prev["queries_median"] = fullrec["queries_median"]
                    except KeyError:
                        continue
                    merged = True
                    break
            if not merged:
                print("bench: no full record matches the recorded "
                      "run; medians merge skipped "
                      "(delta_median_vs_prev will be partial)",
                      file=sys.stderr)
        return prev
    # Some driver records carry parsed=null and only the TAIL of the
    # emitted JSON line (head truncated mid-object — observed:
    # BENCH_r06.json). Recover whichever flat sub-maps survived
    # complete, so round-over-round deltas don't silently disappear.
    tail = rec.get("tail") or ""
    out: dict = {}
    for key in ("queries", "queries_median"):
        m = re.search(rf'"{key}": ({{[^{{}}]*}})', tail)
        if m:
            try:
                out[key] = json.loads(m.group(1))
            except ValueError:
                pass
    # queries_runs (value arrays, one brace level) often survives the
    # head truncation whole even when the min/median maps before it
    # were cut — min and median are derivable from it (BENCH_r07).
    if "queries" not in out or "queries_median" not in out:
        m = re.search(r'"queries_runs": ({[^{}]*})', tail)
        if m:
            try:
                import statistics
                runs = json.loads(m.group(1))
                out.setdefault("queries", {
                    n: min(r) for n, r in runs.items() if r})
                out.setdefault("queries_median", {
                    n: round(statistics.median(r), 3)
                    for n, r in runs.items() if r})
            except ValueError:
                pass
    # Anchor to the top-level metric pair (an unanchored '"value":'
    # can hit a nested field of a truncated record — ADVICE r07), and
    # cross-check the recovered total against the recovered per-query
    # sums before trusting it.
    m = re.search(r'"metric": "headline_queries_total", '
                  r'"value": ([0-9.]+)', tail)
    if m:
        total = float(m.group(1))
        qsum = sum(out.get("queries", {}).values())
        if not out.get("queries") or abs(total - qsum) < max(
                0.01 * max(total, qsum), 0.005 * len(out["queries"])):
            out["value"] = total
    if "value" not in out and out.get("queries"):
        # head-truncated records lose the metric prefix entirely; the
        # per-query min map, when it survived complete, IS the total
        out["value"] = round(sum(out["queries"].values()), 3)
    return out or None


if __name__ == "__main__":
    main()
