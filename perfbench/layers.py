"""Per-layer accounting read from outside the engine.

* ``Spans`` -- the benchmark's own timing spans around each public call
  (name, start, end, parent, query id), kept in memory and written once
  at exit.
* ``parse_event_log`` -- Spark's event log, folded per job group.  Every
  job the benchmark causes runs under a group ``<input>|<round>|<phase>``
  (phase is ``build``, ``exec`` or ``plan``), so jobs, stages
  and task metrics land on the phase of the public call that caused them.
* ``tree_cpu_s`` / ``peak_rss_mb`` -- CPU and resident memory of this
  process tree (Python driver, JVM, Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict

# SQL metrics of Spark 4's MapInPandas / ArrowEvalPython / BatchEvalPython
# nodes, as they appear on task-end accumulables (timings in ms).
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
}


class Spans:
    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, qid: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        self.items.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "qid": qid})
        self._stack.append(len(self.items) - 1)
        return len(self.items) - 1

    def close(self, idx: int, unwind: bool = False) -> float:
        """End span ``idx``; with ``unwind``, first end the spans opened
        inside it that an exception left open."""
        while unwind and self._stack[-1] != idx:
            self.close(self._stack[-1])
        assert self._stack and self._stack[-1] == idx, "spans must nest"
        self._stack.pop()
        span = self.items[idx]
        span["end"] = time.time()
        return span["end"] - span["start"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(s, id=i) for i, s in enumerate(self.items)], f)


def _new_phase() -> dict:
    return defaultdict(float)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """``{job group: {metric: value}}`` for one application's event log."""
    out: dict[str, dict] = defaultdict(_new_phase)
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    out[g]["jobs"] += 1
                    for sid in e.get("Stage IDs", ()):
                        stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                g = stage_group.get(sid)
                if g:
                    out[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                if g:
                    _add_task(out[g], e)
    return out


def _add_task(acc: dict, e: dict) -> None:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    acc["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    acc["task_run_s"] += run_ms / 1e3
    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    delay = (duration - run_ms - m.get("Executor Deserialize Time", 0)
             - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0))
    acc["scheduler_delay_s"] += max(0, delay) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    im = m.get("Input Metrics") or {}
    acc["scan_bytes"] += im.get("Bytes Read", 0)
    acc["scan_rows"] += im.get("Records Read", 0)
    om = m.get("Output Metrics") or {}
    acc["output_bytes"] += om.get("Bytes Written", 0)
    acc["output_rows"] += om.get("Records Written", 0)
    for a in info.get("Accumulables", ()):
        key = PYTHON_METRICS.get(a.get("Name"))
        if key:
            v = float(a.get("Update") or 0)
            acc[key] += v / 1e3 if key.endswith("_s") else v


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# -- /proc ----------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, user+system ticks of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _tree(root: int) -> dict[int, int]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st:
                stats[int(name)] = st
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    return sum(_tree(root or os.getpid()).values()) / _HZ


def steal_s() -> float:
    """CPU time the hypervisor withheld from this machine, summed over CPUs:
    a run that reads high here was slowed by its host, not by the engine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def process_start_time() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _HZ


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(root: int | None = None) -> float:
    """High-water resident memory of the Python driver plus its JVM."""
    root = root or os.getpid()
    pids = [root] + [p for p in _tree(root) if p != root and _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0
