"""Outside-in probes of the running engine.

Everything here reads public surfaces only: ``/proc`` for the process
cohort (this driver, the JVM it launched and the JVM's Python workers),
the JVM's ``ManagementFactory`` beans over py4j, Spark's
``statusTracker`` job groups, and executed-plan strings.
"""

from __future__ import annotations

import os
import platform
import subprocess

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> "tuple[int, float] | None":
    """(ppid, user+sys CPU seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / _CLK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> "dict[int, int]":
    """pid -> ppid for every live process below ``root``."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in out:
                out[child] = p
                frontier.append(child)
    return out


class Cohort:
    """CPU and memory of the driver + JVM + Python-worker cohort."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.workers_seen: set[int] = set()
        self.peak_kb: dict[int, tuple[str, int]] = {}  # pid -> (role, VmHWM)

    def _peak(self, pid: int, role: str) -> None:
        self.peak_kb[pid] = (role, max(self.peak_kb.get(pid, (role, 0))[1], _hwm_kb(pid)))

    def sample(self) -> dict:
        """CPU seconds by role of live members, and the summed peak RSS
        (MB) of every member seen by any sample so far.

        A member's CPU includes its reaped children, so the CPU of a
        worker that has exited is still counted (in its parent); its
        peak RSS is kept from the last sample that saw it alive."""
        cpu = {"driver_py": _stat(self.root)[1], "jvm": 0.0, "py_workers": 0.0}
        self._peak(self.root, "driver_py")
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is None:
                continue
            comm = _comm(pid)
            role = "jvm" if comm == "java" else "py_workers"
            if role == "py_workers" and comm.startswith("python"):
                self.workers_seen.add(pid)
            cpu[role] += st[1]
            self._peak(pid, role)
        cpu["total"] = cpu["driver_py"] + cpu["jvm"] + cpu["py_workers"]
        rss = {"driver_py": 0.0, "jvm": 0.0, "py_workers": 0.0}
        for role, kb in self.peak_kb.values():
            rss[role] += kb / 1024.0
        return {"cpu": cpu, "rss_mb": rss, "peak_rss_mb": sum(rss.values())}


def cpu_times() -> list[int]:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def jvm_gc_ms(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def jvm_max_heap_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getMax() / 2**20


def job_group_counts(spark, group: str) -> "tuple[int, int, int]":
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            s = st.getStageInfo(sid)
            if s is not None:
                tasks += s.numTasks
    return len(jobs), stages, tasks


def plan_counts(df) -> "tuple[int, int]":
    """(exchanges, broadcast exchanges) in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    broadcasts = plan.count("BroadcastExchange")
    return plan.count("Exchange") - plan.count("ReusedExchange"), broadcasts


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def tree_files(path: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _cmd(args: list[str]) -> str:
    try:
        out = subprocess.run(args, capture_output=True, text=True, timeout=20)
        return (out.stdout + out.stderr).strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def env_stamp(spark=None) -> dict:
    """Host and toolchain facts for one run; recorded, not gated."""
    import duckdb
    import pyspark

    java = _cmd(["java", "-XX:-UsePerfData", "-version"]).splitlines()
    head = _cmd(["git", "rev-parse", "HEAD"])
    stamp = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "duckdb": duckdb.__version__,
        "git_head": head if len(head) == 40 else "unknown",
    }
    if spark is not None:
        stamp["driver_memory_conf"] = spark.conf.get("spark.driver.memory", None)
        stamp["driver_xmx_mb"] = round(jvm_max_heap_mb(spark), 1)
        stamp["master"] = spark.sparkContext.master
    return stamp
