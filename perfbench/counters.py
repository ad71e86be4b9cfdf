"""Counters read from outside the engine: /proc, JVM MXBeans over py4j, the
Spark status tracker, block-manager storage and a streaming listener.

Nothing here patches the package or changes what Spark does; the one
non-public call only waits for Spark's listener bus to drain.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after its ')'
        return f.read().rsplit(")", 1)[1].split()


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of a process, all threads."""
    fields = _stat_fields(pid)
    return (int(fields[11]) + int(fields[12])) / _TICK


def peak_rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_steal_s() -> float:
    """CPU time stolen from this host by the hypervisor since boot, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Jvm:
    """The driver JVM behind a SparkSession: pid, GC time, storage."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._sc = spark.sparkContext
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def storage_bytes(self) -> dict[int, int]:
        """Block-manager bytes (memory plus disk) per persisted RDD id."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return {int(r.id()): int(r.memSize()) + int(r.diskSize()) for r in infos}

    def version(self) -> str:
        return str(self._jvm.java.lang.System.getProperty("java.version"))


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks that ran under one job group.

    Read right after the operation: the status tracker keeps only the most
    recent ``spark.ui.retainedJobs`` jobs. The tracker is fed by the
    asynchronous listener bus, so wait for the bus to deliver the
    operation's events first. A stage with no task run was skipped (its
    shuffle output was reused) and is not counted.
    """
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    st = sc.statusTracker()
    jobs = stages = tasks = single = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is None:
                continue
            ran = s.numCompletedTasks + s.numFailedTasks
            if ran == 0:
                continue
            stages += 1
            tasks += ran
            failed += s.numFailedTasks
            single += s.numTasks == 1
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "single": single, "failed_tasks": failed}


def streaming_listener(spark):
    """Register and return a listener that totals micro-batch progress.

    Micro-batch jobs run on the stream thread, outside any job group set by
    the caller, so micro-batches are counted here instead.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class Totals(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.started = self.terminated = 0
            self.totals = {"batches": 0, "rows": 0, "addBatch": 0, "queryPlanning": 0, "commit": 0}

        def onQueryStarted(self, event):
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            with self._lock:
                t = self.totals
                t["batches"] += 1
                t["rows"] += p.numInputRows
                t["addBatch"] += d.get("addBatch", 0)
                t["queryPlanning"] += d.get("queryPlanning", 0)
                t["commit"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated += 1

        def snapshot(self, timeout_s: float = 10.0) -> dict[str, int]:
            """Totals once every started query's events have arrived.

            Listener events are delivered asynchronously but in order, so
            all of a query's progress events precede its termination event.
            """
            deadline = time.monotonic() + timeout_s
            while True:
                with self._lock:
                    if self.terminated >= self.started or time.monotonic() > deadline:
                        return dict(self.totals)
                time.sleep(0.01)

    listener = Totals()
    spark.streams.addListener(listener)
    return listener
