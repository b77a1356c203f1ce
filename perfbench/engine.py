"""Readers for engine-side counters: Spark's application status store
(per-stage task, shuffle, spill and CPU figures), peak resident memory
of the driver JVM plus this Python process, and the host's speed.

The status store is read through the JVM handle of the running
SparkContext. It is populated even with ``spark.ui.enabled=false``.
Only the five-argument ``stageList`` exists on Spark 4.1; the store
lists stages newest first.
"""

from __future__ import annotations

import resource
import statistics
import time
from dataclasses import dataclass


@dataclass
class StageTotals:
    """Sums over the stages one operation ran."""
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0


class StageCounter:
    """Reads the stages completed since the previous ``take()``.

    ``take()`` first waits for the listener bus to drain, so a stage
    whose completion event is still queued is not missed."""

    # statuses that ran tasks; SKIPPED stages reused earlier output
    _RAN = ("COMPLETE", "FAILED")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen = self._newest_id()

    def _stage_list(self):
        jvm = self._jvm
        self._jsc.listenerBus().waitUntilEmpty()
        return self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            jvm.java.util.ArrayList())

    def _newest_id(self) -> int:
        stages = self._stage_list()
        return stages.apply(0).stageId() if stages.size() else -1

    def take(self) -> StageTotals:
        """Totals over the stages newer than the last ``take()``."""
        stages = self._stage_list()
        out = StageTotals()
        newest = self._seen
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._seen:
                break
            newest = max(newest, sid)
            if s.status().toString() not in self._RAN:
                continue
            out.stages += 1
            out.tasks += s.numTasks()
            out.failed_tasks += s.numFailedTasks()
            out.shuffle_write_bytes += s.shuffleWriteBytes()
            out.shuffle_read_bytes += s.shuffleReadBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out.executor_cpu_s += s.executorCpuTime() / 1e9   # ns
            out.executor_run_s += s.executorRunTime() / 1e3   # ms
        self._seen = newest
        return out


def core_idle_share(totals: StageTotals, wall_s: float, cores: int) -> float:
    """1 - executor run time / (wall time x cores)."""
    return 1.0 - totals.executor_run_s / (wall_s * cores)


class HostSpeed:
    """A fixed reference job, timed three times before the workload's
    timed loop and once after each of its operations, to track the
    host's speed.

    The job counts 1M ids per key (id % 100003) through a hash
    repartition into four partitions, to a ``noop`` sink: Spark's
    scheduler, whole-stage code and a shuffle, like the workloads, but
    with a plan the benchmark fixes. It reads no file and calls nothing
    in the package, and its explicit partitioning leaves it untouched by
    the session's shuffle settings. On a shared host whose speed drifts
    by up to 2x over minutes, a run's operation times divided by the
    run's median job time stay put while the raw times move. ``REF_S``
    is the job's median time on the 4-vCPU host the bounds were set on;
    ``scale()`` turns a raw timing into seconds at that speed."""

    REF_S = 0.30
    ROWS = 1_000_000
    KEYS = 100_003
    PARTITIONS = 4

    def __init__(self, spark) -> None:
        self._job = (spark.range(self.ROWS, numPartitions=self.PARTITIONS)
                     .selectExpr(f"id % {self.KEYS} AS k")
                     .repartition(self.PARTITIONS, "k")
                     .groupBy("k").count())
        self.samples: list[float] = []
        self._run()            # untimed: plan and compile the job's code
        for _ in range(3):
            self.sample()

    def _run(self) -> None:
        self._job.write.format("noop").mode("overwrite").save()

    def sample(self) -> None:
        """Time the job once."""
        t0 = time.perf_counter()
        self._run()
        self.samples.append(time.perf_counter() - t0)

    def scale(self) -> float:
        """REF_S / the median job time of this run."""
        return self.REF_S / statistics.median(self.samples)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0
