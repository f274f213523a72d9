"""Spark-side counters read from outside the engine.

Every timed op runs under its own job group, so the jobs, stages and
tasks it caused can be read back from the status tracker and the
application status store afterwards. Physical-plan shape comes from the
pre-AQE plan string; memory from ``/proc``; JVM GC time from the
management beans.
"""

from __future__ import annotations

import os
import re
import resource
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_JOIN = re.compile(r"(?m)^[\s:+\-|]*(\w*Join\w*|CartesianProduct)\b")
_SCAN = re.compile(r"(?m)^[\s:+\-|]*(FileScan|Scan)\s")


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc.statusTracker()
        self._seq = 0

    @contextmanager
    def job_group(self, label: str):
        """Tag every job started inside with a fresh group id."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc._jsc.clearJobGroup()

    def _stages(self, gid: str):
        for job in self._tracker.getJobIdsForGroup(gid):
            info = self._tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    yield self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted
                    yield None

    def stage_stats(self, gid: str) -> dict:
        out = {"jobs": len(self._tracker.getJobIdsForGroup(gid)), "stages": 0,
               "tasks": 0, "input_rows": 0, "shuffle_write_bytes": 0}
        for sd in self._stages(gid):
            if sd is None or str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["input_rows"] += sd.inputRecords()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out

    def reads_input(self, gid: str) -> bool:
        """True when some stage of the group scanned source rows — a
        re-collect served from reused shuffle files scans none."""
        for sd in self._stages(gid):
            if sd is not None and str(sd.status()) != "SKIPPED" and sd.inputRecords() > 0:
                return True
        return False

    def gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def jvm_pid(self) -> int:
        return self.sc._gateway.proc.pid

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and this Python
        process, less the JVM's JIT compiler threads. The kernel charges
        no time stolen by the hypervisor to a process, so this moves far
        less than wall time when the host is shared; JIT compilation is
        warm-up that finishes at its own pace, so it is left out."""
        pid = self.jvm_pid()
        ticks = _ticks(f"/proc/{pid}/stat")
        for task in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{task}/comm", encoding="utf-8") as fh:
                    if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        ticks -= _ticks(f"/proc/{pid}/task/{task}/stat")
            except FileNotFoundError:  # a thread that ended meanwhile
                pass
        return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()

    def live_mb(self) -> dict[str, float]:
        """Driver memory still in use, in MB: JVM heap after a full GC,
        JVM non-heap (metaspace, code cache), and the Python process's
        peak RSS. Steadier than the JVM's peak RSS, which follows G1's
        heap sizing from run to run."""
        jvm = self.spark._jvm
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # The first collection lets Spark's ContextCleaner see unreachable
        # broadcasts and shuffles; once the listener bus is drained and the
        # cleaner has dropped their blocks, the second one frees them too.
        jvm.java.lang.System.gc()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        return {
            "heap": mem.getHeapMemoryUsage().getUsed() / 2**20,
            "non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20,
            "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this Python process."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid()}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def _ticks(stat_path: str) -> int:
    """utime + stime, in clock ticks, from a /proc stat file."""
    with open(stat_path, encoding="utf-8") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def plan_shape(df) -> tuple[int, int]:
    """(joins, file scans) in the physical plan before AQE re-planning."""
    text = df._jdf.queryExecution().sparkPlan().toString()
    return len(_JOIN.findall(text)), len(_SCAN.findall(text))


def force_plan(df) -> None:
    """Run Catalyst analysis, optimization and physical planning now, so
    the following action times execution alone."""
    df._jdf.queryExecution().executedPlan()


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every data file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".crc"):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(root: str) -> int:
    return sum(size for size, _ in dir_files(root).values())
