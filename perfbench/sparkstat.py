"""Spark counters read from outside the program.

Every unit of work the benchmark wants to account for (a timed pass, one
builder call, one action) runs under its own job group. Afterwards the
group's jobs are looked up through ``statusTracker().getJobIdsForGroup``
and their stages through the application status store
(``sc._jsc.sc().statusStore().lastStageAttempt``), which the status
listener fills whether or not the web UI is enabled. Nothing inside the
engine is touched.

A stage record keeps the metrics of the attempt that ran. A job that reuses
shuffle output, such as the result job after an adaptive query's map-stage
job, lists that output under a stage id of its own, which the store reports
as skipped with no tasks; ``tests/test_sparkstat.py`` checks this.
"""

from __future__ import annotations

import itertools
import os
import time

#: job states after which a job's stages have all been reported
_DONE = ("SUCCEEDED", "FAILED")
_STAGE_FIELDS = ("jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_write_mb", "spill_mb")


class SparkCounters:
    """Job-group bookkeeping plus stage-metric sums for one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._seq = itertools.count()

    def start_group(self, label: str) -> str:
        """Route the jobs the calling thread launches from now on into a
        fresh group; returns the group id."""
        group = f"perfbench-{next(self._seq)}-{label}"
        self._sc.setJobGroup(group, label)
        return group

    def _settle(self, groups: list[str], timeout_s: float = 30.0) -> list[int]:
        """Job ids of ``groups`` once every one of them has finished.

        Actions return when their jobs end, but the status listener learns
        of that asynchronously: drain the listener bus first, then poll the
        tracker until every job of the groups reports a final state."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while True:
            ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
            infos = [tracker.getJobInfo(j) for j in ids]
            if all(i is not None and i.status in _DONE for i in infos):
                return ids
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of {groups} still running after {timeout_s}s")
            time.sleep(0.005)

    def collect(self, groups: list[str]) -> dict[str, float]:
        """Sum jobs, executed stages, tasks, executor CPU and run time,
        shuffle write and spill over every job of ``groups``. Stages a job
        skipped (their shuffle output was reused) count nowhere."""
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        ids = self._settle(groups)
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        stage_ids = sorted({s for j in ids for s in tracker.getJobInfo(j).stageIds})
        out["jobs"] = float(len(ids))
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted (skipped)
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["run_s"] += sd.executorRunTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return out

    def process_cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM (task threads, planning,
        JIT and GC) plus this Python process."""
        with open(f"/proc/{self._jvm_pid()}/stat", encoding="ascii") as f:
            # utime and stime, the 14th and 15th fields, in clock ticks
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()

    def _jvm_pid(self) -> int:
        return self._sc._jvm.java.lang.ProcessHandle.current().pid()

    def retained_storage_mb(self) -> float:
        """Bytes of persisted, cached and locally checkpointed RDD blocks
        still held, memory plus disk."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def jvm_peak_rss_mb(self) -> float:
        """High-water resident set size of the driver JVM (``VmHWM``)."""
        with open(f"/proc/{self._jvm_pid()}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0
