"""Counters read from outside the program: Spark's status store, the JVM's
GC beans, ``/proc`` and the environment.

Nothing here runs inside a timed region. ``StatusProbe`` is used only by the
traced run; ``peak_rss_mb`` and ``environment`` by every run.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import urllib.request


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb(os.getpid())) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this machine in between."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (so interpreter
    start-up and imports count)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class StatusProbe:
    """Per-operation counters from the SQL and core status stores.

    Jobs are tagged with a job group per phase so the stages of one phase
    can be found afterwards; stage metrics come from the status REST API of
    the driver's own UI on localhost."""

    STAGE_FIELDS = {
        "exec.shuffle_bytes": "shuffleWriteBytes",
        "exec.spill_bytes": "diskBytesSpilled",
        "exec.scan_rows": "inputRecords",
        "exec.tasks": "numCompleteTasks",
    }

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def sql_count(self) -> int:
        return int(self._sql.executionsCount())

    def sql_started_before(self, first: int, epoch_ms: float) -> int:
        """Of the SQL executions numbered ``first`` onwards, how many were
        submitted at or before ``epoch_ms``."""
        n = self.sql_count() - first
        if n <= 0:
            return 0
        seq = self._sql.executionsList(first, n)
        return sum(
            1 for i in range(seq.size()) if seq.apply(i).submissionTime() <= epoch_ms
        )

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stage_totals(self, group: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        stage_ids = {
            s
            for j in tracker.getJobIdsForGroup(group)
            for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])
        }
        out = {k: 0 for k in self.STAGE_FIELDS}
        for sid in stage_ids:
            with urllib.request.urlopen(
                f"{self._base}/stages/{sid}?details=false", timeout=30
            ) as resp:
                attempts = json.load(resp)
            for att in attempts:
                if att.get("status") != "COMPLETE":
                    continue
                for k, f in self.STAGE_FIELDS.items():
                    out[k] += int(att.get(f, 0))
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Force physical planning of ``df`` and return its QueryPlanningTracker
    phase durations in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def _java_version() -> str:
    try:
        res = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (res.stderr or res.stdout).splitlines()
    return first[0] if first else "unknown"


def head_sha(root: str) -> str:
    """The checked-out commit, read from ``.git`` when there is one."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(git, ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return "unknown"


def environment(spark, root: str, cores: int, driver_mem: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "java": _java_version(),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "driver_memory": driver_mem,
        "head_sha": head_sha(root),
    }
