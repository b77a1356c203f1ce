#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload colloc_zipf --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Generates the workload's corpus from the seed (in a child process),
starts a local Spark session through the package's ``get_spark``,
measures the workload for ``--seconds`` seconds in a closed loop, checks
the collected outputs against the DuckDB oracle, and prints one line per
metric followed by a final JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; latency and throughput
are scaled to a reference host speed measured in the same run (see
``engine.HostSpeed``). ``--trace 1`` is the separate traced run: spans
around every call into the program, engine counters per operation,
per-layer probes, and the per-layer metrics.

Everything the run writes goes under ``.perfbench/`` at the checkout
root; the run's working directory there is dropped when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

PACKAGE = "ngrams_collocations_hadoop_spark"
WORK = os.path.join(ROOT, ".perfbench")

CPUS = 4            # local[4]; passed explicitly, never the package default
DRIVER_MEM = "2g"   # the maximum heap; the JVM grows into it as needed
WARMUP_OPS = 1      # untimed, checked operation before the timed loop
WORKLOADS = ("colloc_zipf", "dedup_ingest")

END_TO_END = {
    "latency_p50_ref_s": "s",
    "throughput_ref_per_s": "1/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "registry.plan_build_s": "s",
    "registry.colloc_topk_sql_s": "s",
    "sources.records_s": "s",
    "sources.records_rows": "count",
    "functions.clean_s": "s",
    "functions.clean_keep_ratio": "ratio",
    "functions.slow_path_share": "ratio",
    "operators.colloc.count_s": "s",
    "operators.colloc.c12_keys": "count",
    "operators.colloc.score_s": "s",
    "operators.colloc.scored_ratio": "ratio",
    "operators.colloc.topk_s": "s",
    "operators.dedup.build_s": "s",
    "operators.dedup.append_s": "s",
    "operators.dedup.match_s": "s",
    "operators.dedup.planted_recall": "ratio",
    "sources.storage.index_files": "count",
    "sources.storage.index_bytes": "bytes",
    "sources.storage.stored_bytes_per_input_byte": "ratio",
    "session.get_spark_s": "s",
    "session.stages": "count",
    "session.tasks": "count",
    "session.failed_tasks": "count",
    "session.shuffle_write_bytes": "bytes",
    "session.shuffle_read_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.executor_cpu_s": "s",
    "session.core_idle_share": "ratio",
    "trace.overhead_share": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS + ("all",),
                   help="'all' runs every workload, one process each")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_dirs(run_dir: str) -> dict[str, str]:
    """Fresh per-run directories, and the environment that points the
    program, Spark, the JVM and Python's tempfile at them."""
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("corpus", "warehouse", "local", "tmp", "duckdb")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={dirs['tmp']} "
                                       "-XX:-UsePerfData")
    tempfile.tempdir = None
    return dirs


def spark_conf(dirs: dict[str, str]) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["local"],
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM PySpark launched for it, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the PySpark gateway exits on stdin EOF
        proc.wait(timeout=60)


def measure(args, dirs: dict[str, str]) -> dict:
    """Run the workload; returns everything the report needs."""
    from ngrams_collocations_hadoop_spark.session import get_spark

    from perfbench import engine
    from perfbench import workloads as W

    tracer = Tracer(bool(args.trace))
    work = W.WORKLOADS[args.workload](args.seed, dirs["corpus"])
    conf = spark_conf(dirs)
    res = {"work": work, "tracer": tracer, "attempted": 0, "failed": 0,
           "ops": [], "outputs": [], "probes": {}}

    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "session"):
            spark = get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
        res["get_spark_s"] = time.perf_counter() - t0
        res["attempted"] += 1
        try:
            work.prepare(spark, tracer)
            res["outputs"].append(work.op(spark, tracer, W.collect)["out"])
        except Exception:
            traceback.print_exc()
            res["failed"] += 1
        res["setup_s"] = time.perf_counter() - t0

        # Warm-up, so the timed operations meet a warmer JVM. The output
        # is collected and checked: it comes from the state the timed
        # operations run in (a warm session and, for dedup_ingest, an
        # index restored after a cycle).
        for _ in range(WARMUP_OPS):
            res["attempted"] += 1
            try:
                res["outputs"].append(
                    work.op(spark, Tracer(False), W.collect)["out"])
            except Exception:
                traceback.print_exc()
                res["failed"] += 1

        host = engine.HostSpeed(spark)
        counter = engine.StageCounter(spark) if args.trace else None
        overhead0 = tracer.overhead_s
        t_loop = time.perf_counter()
        while time.perf_counter() < t_loop + args.seconds:
            res["attempted"] += 1
            try:
                with tracer.span("op", "bench"):
                    r = work.op(spark, tracer)
            except Exception:
                traceback.print_exc()
                res["failed"] += 1
                continue
            finally:
                if counter is not None:
                    with tracer.bookkeeping():
                        totals = counter.take()
            if counter is not None:
                r["engine"] = totals
            res["ops"].append(r)
            host.sample()
            if counter is not None:
                with tracer.bookkeeping():
                    counter.take()    # drop the reference job's stages
        res["loop_s"] = time.perf_counter() - t_loop
        res["trace_overhead_s"] = tracer.overhead_s - overhead0
        res["host"] = host

        if args.trace:
            res["probes"].update(W.colloc_prefix_probe(spark, work.dir, tracer))
            res["probes"].update(W.sql_surface_probe(spark, work.dir, tracer))
            res["probes"].update(W.dedup_probe(spark, work, tracer))
        res["peak_rss_mb"] = engine.peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)

    want = W.oracle_frame(work.dir, work.oracle_sql(), dirs["duckdb"])
    res["mismatched"] = sum(not W.same_result(o, want)
                            for o in res["outputs"])
    res["failed"] += res["mismatched"]
    if not res["ops"]:
        raise RuntimeError("every timed operation failed")
    return res


def raw_timings(res) -> dict[str, float]:
    """Latency and throughput as measured, at the run's host speed."""
    lat = [r["latency_s"] for r in res["ops"]]
    return {
        "latency_p50_s": statistics.median(lat),
        "throughput_per_s": sum(r["work"] for r in res["ops"]) / sum(lat),
    }


def end_to_end(res) -> dict[str, float]:
    """Latency and throughput at the reference host speed (``HostSpeed``);
    set-up time and memory as measured."""
    raw, k = raw_timings(res), res["host"].scale()
    return {
        "latency_p50_ref_s": raw["latency_p50_s"] * k,
        "throughput_ref_per_s": raw["throughput_per_s"] / k,
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": res["setup_s"],
    }


def per_layer(res) -> dict[str, float]:
    from perfbench import engine

    ops = res["ops"]
    med = statistics.median
    out = {
        "registry.plan_build_s": med([r["plan_s"] for r in ops]),
        "functions.slow_path_share": res["work"].corpus.slow_path_share,
        "session.get_spark_s": res["get_spark_s"],
        "session.core_idle_share": med([
            engine.core_idle_share(r["engine"], r["latency_s"], CPUS)
            for r in ops]),
        "trace.overhead_share": res["trace_overhead_s"] / res["loop_s"],
    }
    for k in ("stages", "tasks", "failed_tasks", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "executor_cpu_s"):
        out[f"session.{k}"] = med([getattr(r["engine"], k) for r in ops])
    out.update(res["probes"])
    return out


def report(args, res) -> dict:
    """Print the human-readable lines; return the final JSON object."""
    work = res["work"]
    lat = [r["latency_s"] for r in res["ops"]]
    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} cpus={CPUS}")
    print("corpus " + " ".join(f"{k}={v}" for k, v in
                               work.corpus.summary().items()))
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    ratio = res["failed"] / res["attempted"]
    print(f"failed_ratio {ratio:.4f} ({res['failed']} of {res['attempted']} "
          f"operations; {res['mismatched']} oracle mismatches)")
    # printed, not bounded: a run has too few operations for any
    # percentile to have 10 samples beyond it, so this is their maximum
    tail_s, tail_pct = stats.tail(lat)
    print(f"latency_tail_s {tail_s:.6g} s (p{tail_pct:.0f} of n={len(lat)} "
          "operations)")
    host = res["host"]
    print(f"host reference job p50 {statistics.median(host.samples):.4f} s "
          f"over n={len(host.samples)} (REF_S {host.REF_S} s, scale "
          f"{host.scale():.4f})")
    raw = raw_timings(res)
    print(f"latency_p50_s {raw['latency_p50_s']:.6g} s (as measured)")
    print(f"throughput_per_s {raw['throughput_per_s']:.6g} 1/s (as measured)")
    if args.trace:
        metrics, units = per_layer(res), PER_LAYER
        self_s = res["tracer"].self_times()
        print("span self time per layer (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in sorted(self_s.items())))
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        res["tracer"].write(path)
        print(f"spans written to {os.path.relpath(path, ROOT)}; traced "
              f"op p50 {statistics.median(lat):.4f} s over {len(lat)} ops")
    else:
        metrics, units = end_to_end(res), END_TO_END
    notes = {
        "latency_p50_ref_s": f"n={len(lat)} operations, at reference host "
                             "speed",
        "throughput_ref_per_s": f"{work.work_unit} per second, at reference "
                                "host speed",
        "setup_s": "get_spark in a new JVM plus the cold first pass",
    }
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}" + (f" ({notes[k]})" if k in notes else ""))
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        codes = [subprocess.call([sys.executable, __file__, "--workload", w,
                                  "--seed", str(args.seed),
                                  "--seconds", str(args.seconds),
                                  "--trace", str(args.trace)])
                 for w in WORKLOADS]
        return max(codes)
    run_dir = os.path.join(WORK, "run")
    dirs = prepare_dirs(run_dir)
    try:
        res = measure(args, dirs)
        out = report(args, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
