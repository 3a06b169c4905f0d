"""Layer ledger: spans around calls into the package, host counters, and
an event-log reader that attributes Spark task metrics to spans.

A span is a Spark job group. Job groups are thread-local and sticky in
PySpark: a job submitted after a span ends would be charged to it unless
the previous group is put back on exit, which `Ledger.span` does.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


# --- host counters ------------------------------------------------------------

def _cgroup_cpu_reader():
    """Return a function giving the container's CPU-seconds so far, from
    the cgroup CPU accounting (v2 cpu.stat or v1 cpuacct.usage). The
    counter includes the JVM and every Python worker, even ones that
    exited mid-pass."""
    v2 = "/sys/fs/cgroup/cpu.stat"
    if os.path.exists(v2):
        def read_v2() -> float:
            with open(v2) as f:
                for line in f:
                    k, v = line.split()
                    if k == "usage_usec":
                        return int(v) / 1e6
            raise RuntimeError(f"no usage_usec in {v2}")
        return read_v2
    for path in ("/sys/fs/cgroup/cpuacct/cpuacct.usage", "/sys/fs/cgroup/cpu,cpuacct/cpuacct.usage"):
        if os.path.exists(path):
            def read_v1(path: str = path) -> float:
                with open(path) as f:
                    return int(f.read()) / 1e9
            return read_v1
    raise RuntimeError("no cgroup CPU accounting found (cpu.stat or cpuacct.usage)")


cgroup_cpu_s = _cgroup_cpu_reader()


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate `cpu` line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


@dataclass
class Sample:
    """Wall, container CPU and host steal over one interval."""

    wall_s: float
    cpu_s: float
    steal_share: float


@contextmanager
def measure(out: list[Sample]):
    steal0, total0 = host_cpu_ticks()
    c0, t0 = cgroup_cpu_s(), time.perf_counter()
    yield
    wall, cpu = time.perf_counter() - t0, cgroup_cpu_s() - c0
    steal1, total1 = host_cpu_ticks()
    out.append(Sample(wall, cpu, (steal1 - steal0) / max(total1 - total0, 1)))


# --- spans --------------------------------------------------------------------

@dataclass
class Ledger:
    """Per-layer wall and container CPU, keyed by span name. Spans with
    the same name accumulate; each runs under the job group of its name."""

    sc: object  # pyspark SparkContext
    wall_s: dict[str, float] = field(default_factory=dict)
    cpu_s: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self.sc.setJobGroup(name, f"perfbench layer {name}", interruptOnCancel=False)
        c0, t0 = cgroup_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall_s[name] = self.wall_s.get(name, 0.0) + time.perf_counter() - t0
            self.cpu_s[name] = self.cpu_s.get(name, 0.0) + cgroup_cpu_s() - c0
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)


# --- event log ----------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    # per stage: task run times (s), for the skew of the largest stage
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)

    @property
    def skew(self) -> float:
        """Largest stage's (by summed task time) max task over mean task."""
        if not self.stage_tasks:
            return 0.0
        times = max(self.stage_tasks.values(), key=sum)
        mean = sum(times) / len(times)
        return max(times) / mean if mean > 0 else 1.0


def read_event_log(path: str) -> dict[str | None, GroupStats]:
    """Per job group (None = no group) task metrics from an uncompressed
    Spark event log. Stages belong to the group of the job that submitted
    them; a stage shared by two jobs is charged to the first."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                out.setdefault(group, GroupStats()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                st = out.setdefault(stage_group.get(ev["Stage ID"]), GroupStats())
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                if info.get("Failed") or info.get("Killed"):
                    st.failed_tasks += 1
                run_s = m.get("Executor Run Time", 0) / 1000
                st.task_s += run_s
                st.stage_tasks.setdefault(ev["Stage ID"], []).append(run_s)
                written = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.shuffle_mb += written / 2**20
                st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return out


def event_log_file(log_dir: str) -> str:
    """The single application log in `log_dir` (the session has stopped)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# --- JVM ------------------------------------------------------------------------

def jvm_gc_s(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(gc.getCollectionTime() for gc in mf.getGarbageCollectorMXBeans()) / 1000


def heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peak(spark) -> None:
    for p in heap_pools(spark):
        p.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    """Sum of the heap pools' peak usage since the last reset (an upper
    bound on the simultaneous peak)."""
    return sum(p.getPeakUsage().getUsed() for p in heap_pools(spark)) / 2**20
