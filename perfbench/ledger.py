"""Run ledger for the benchmark: Spark event-log folding per job group, and
host readings from /proc.

The event log is Spark's own JSON-lines record of the application
(`spark.eventLog.enabled`, written uncompressed so the standard library can
read it). Every job carries the job group that was set when it started; the
fold maps each stage to the group of the first job that lists it and sums the
task metrics of that stage's tasks into the group.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

MB = 1 << 20
# local property the benchmark sets around each measured call; jobs fold
# under it, else under their job group
GROUP_PROPERTY = "perfbench.group"


def empty_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "cpu_s": 0.0,
        "run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "task_skew": 1.0,
    }


def fold_event_log(path: str) -> dict[str, dict]:
    """Event log → {job group: summed task metrics}.

    A job's group is its GROUP_PROPERTY local property if set, else its job
    group. Per group: job and task counts, executor CPU, run and GC seconds,
    shuffle write/read and spill (memory + disk) in MB, and `task_skew` = max ÷ median task duration in the group's
    longest stage (by wall span from first launch to last finish). Jobs
    started without a group are folded under the empty string.
    """
    groups: dict[str, dict] = defaultdict(empty_group)
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[tuple[int, int]]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get(GROUP_PROPERTY) or props.get("spark.jobGroup.id") or ""
                groups[g]["jobs"] += 1
                for s in ev.get("Stage IDs", []):
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                stage = ev["Stage ID"]
                g = stage_group.get(stage, "")
                acc = groups[g]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                acc["tasks"] += 1
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                acc["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                acc["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
                if "Launch Time" in info and "Finish Time" in info:
                    stage_tasks[stage].append((info["Launch Time"], info["Finish Time"]))
    longest: dict[str, tuple[int, int]] = {}
    for stage, spans in stage_tasks.items():
        g = stage_group.get(stage, "")
        wall = max(f for _, f in spans) - min(s for s, _ in spans)
        if g not in longest or wall > longest[g][0]:
            longest[g] = (wall, stage)
    for g, (_, stage) in longest.items():
        durations = [f - s for s, f in stage_tasks[stage]]
        med = statistics.median(durations)
        groups[g]["task_skew"] = max(durations) / med if med > 0 else 1.0
    return dict(groups)


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into `log_dir`."""
    logs = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


# -- host readings ------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user nice system idle iowait irq softirq steal
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _ancestors(pid: int) -> set[int]:
    seen = set()
    while pid > 1 and pid not in seen:
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            break
    return seen


def competing_processes() -> list[str]:
    """Command lines of Spark JVMs and pytest runs that are not this process
    or one of its ancestors: timing next to them measures both."""
    mine = _ancestors(os.getpid())
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        cmd = " ".join(a.decode(errors="replace") for a in argv if a)
        is_spark = "org.apache.spark.deploy.SparkSubmit" in cmd
        is_pytest = any(os.path.basename(a.decode(errors="replace")) in ("pytest", "py.test") for a in argv) or " -m pytest" in cmd
        if is_spark or is_pytest:
            found.append(f"{name}: {cmd[:160]}")
    return found
