"""Standard-library tracing for the benchmark's traced run.

Three sources, none of them inside the engine package:

- **Spans.** :class:`Tracer` wraps public engine functions by rebinding
  the name in every loaded module that holds it (``pipeline.py`` imports
  ``build_hetero_graph`` by name, so patching ``operators.graph`` alone
  would miss its calls). A span records name, id, parent id, start and
  end, and sets the Spark job group to its id while it is open.
- **Spark event log.** :func:`read_event_log` parses the uncompressed
  JSON event log; :func:`attribute_jobs` assigns jobs to spans by job
  group, or, for jobs submitted from helper threads (which do not carry
  the group), by the span open at the job's submission time;
  :func:`spark_counters` sums their tasks.
- **/proc.** :class:`ProcTree` sums CPU time and memory over this
  process and its descendants (the driver JVM, the PySpark daemon and
  its forked workers).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class Tracer:
    """In-memory span recorder; the spans become per-layer metrics when
    the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name`` (main thread only;
        calls from helper threads run unrecorded, their jobs are
        attributed by time)."""
        if threading.current_thread() is not threading.main_thread():
            return fn(*args, **kwargs)
        sid = len(self.spans)
        rec = {
            "name": name,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    def rebind(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper everywhere it is
        bound: on ``owner`` itself and in every loaded engine module
        that imported the same object by name."""
        original = getattr(owner, attr)
        traced = self.wrap(name, original)
        targets = [owner]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod is owner:
                continue
            if not (
                mod_name.startswith("deep_db_learning_spark")
                or mod_name == "__spark_entry__"
            ):
                continue
            if getattr(mod, attr, None) is original:
                targets.append(mod)
        for t in targets:
            setattr(t, attr, traced)

    def closed(self, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None and s["start"] >= since]


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the part of it its direct children cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - _covered(kids, span["start"], span["end"])


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, stages and tasks from application ``app_id``'s
    (uncompressed) event log under ``log_dir``. Times are epoch
    seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    with open(os.path.join(log_dir, app_id)) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "id": jid,
                "submit": ev["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "job": stage_job.get(info["Stage ID"]),
            }
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "job": stage_job.get(ev["Stage ID"]),
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def attribute_jobs(log: dict, spans: list[dict]) -> dict[int, int | None]:
    """job id → span id: by job group where the job carries one, else
    the innermost span open at the job's submission time."""
    by_group = {f"span-{s['id']}": s["id"] for s in spans}
    out: dict[int, int | None] = {}
    for jid, job in log["jobs"].items():
        sid = by_group.get(job["group"])
        if sid is None:
            best = None
            for s in spans:
                if s["end"] is not None and s["start"] <= job["submit"] <= s["end"]:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        out[jid] = sid
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_counters(log: dict, job_ids: set[int], window: tuple[float, float],
                   cores: int) -> dict[str, float]:
    """Event-log counters for ``job_ids``, run inside ``window``: work
    counts, task time, shuffle volume, the share of the cores
    busy, and the wall time no task was running."""
    tasks = [t for t in log["tasks"] if t["job"] in job_ids]
    stages = [k for k, s in log["stages"].items() if s["job"] in job_ids]
    lo, hi = window
    wall = hi - lo
    busy_wall = _covered([(t["launch"], t["finish"]) for t in tasks], lo, hi)
    run_s = sum(t["run_s"] for t in tasks)
    mb = 1024.0 * 1024.0
    return {
        "jobs": float(len(job_ids)),
        "stages": float(len(stages)),
        "tasks": float(len(tasks)),
        "task_run_s": run_s,
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / mb,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / mb,
        "core_busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "driver_gap_s": wall - busy_wall,
    }


# --------------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    fields = _stat(pid)
    return int(fields[21]) * _PAGE_KB if fields else 0


class ProcTree:
    """This process and its descendants, split into the driver Python
    process, the JVM, and the Python workers (everything under it)."""

    def __init__(self):
        self.root = os.getpid()

    def _tree(self) -> dict[str, list[int]]:
        kids = _children_map()
        out = {"driver_py": [self.root], "jvm": [], "workers": []}
        stack = [(c, None) for c in kids.get(self.root, [])]
        while stack:
            pid, role = stack.pop()
            if role is None:
                role = "jvm" if "java" in _cmdline(pid).split(" ", 1)[0] else "workers"
            elif role == "jvm":
                role = "workers"
            out[role].append(pid)
            stack.extend((c, role) for c in kids.get(pid, []))
        return out

    def cpu_s(self) -> dict[str, float]:
        """Cumulative CPU seconds per role; a role's reaped children
        count through their parent's cutime/cstime."""
        out = {}
        for role, pids in self._tree().items():
            total = 0
            for pid in pids:
                f = _stat(pid)
                if f:
                    total += int(f[11]) + int(f[12])
                    if role == "workers":
                        total += int(f[13]) + int(f[14])
            out[role] = total / _CLK_TCK
        return out

    def pss_mb(self) -> dict[str, float]:
        """Proportional set size per role, in MB."""
        return {
            role: sum(_pss_kb(p) for p in pids) / 1024.0
            for role, pids in self._tree().items()
        }


class PeakMemory:
    """Background sampler of the process tree's proportional set size;
    keeps the peak total and its split by role."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.5):
        self.tree, self.interval_s = tree, interval_s
        self.peak_mb = 0.0
        self.peak_roles: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        roles = self.tree.pss_mb()
        total = sum(roles.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_roles = total, roles

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
