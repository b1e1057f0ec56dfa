"""Benchmark-side tracing: in-memory spans around calls into the program's
layers, a process-tree RSS sampler, and a reader that turns Spark's event
log into per-window counts.  Nothing here changes the program; spans are
recorded by wrapping its public functions from the outside."""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans with a name, start, end, parent and the id of the unit of work
    (iteration) they belong to.  Disabled, every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.unit: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "unit": self.unit,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` (module function, class method or dict
        entry) with a version that runs inside a span; `restore` undoes it."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        if is_dict:
            owner[attr] = traced
        else:
            setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def closed(self, name: str | None = None, unit: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None
                and (name is None or s["name"] == name)
                and (unit is None or s["unit"] == unit)]

    def self_times(self) -> dict[str, float]:
        """Span name -> summed self time: each span's duration minus the
        part its direct children cover."""
        child: dict[int, float] = {}
        for s in self.closed():
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.closed():
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# --------------------------------------------------------------------------
# process tree and memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and all its descendants (the
    driver JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak / 2**20


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_PY_TO = "data sent to Python workers"
_PY_FROM = "data returned from Python workers"


class EventLog:
    """Stages and tasks from one application's event log.  Counts are
    summed over the stages submitted inside a wall-clock window, so the
    benchmark attributes work to what it was doing at the time (streaming
    jobs included, which carry no job description of ours)."""

    def __init__(self, path: Path):
        self.stages: dict[tuple[int, int], dict] = {}
        self.job_times: list[int] = []
        for line in Path(path).read_text().splitlines():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.job_times.append(ev["Submission Time"])
            elif kind == "SparkListenerTaskEnd":
                st = self._stage(ev["Stage ID"], ev["Stage Attempt ID"])
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                if info.get("Failed") or not m:
                    continue
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
                st["tasks"].append({
                    "dur": (info["Finish Time"] - info["Launch Time"]) / 1000,
                    "gc": m.get("JVM GC Time", 0) / 1000,
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "sh_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "sh_blocks": rd.get("Remote Blocks Fetched", 0) + rd.get("Local Blocks Fetched", 0),
                    "sh_write": wr.get("Shuffle Bytes Written", 0),
                    "py_to": int(acc.get(_PY_TO) or 0),
                    "py_from": int(acc.get(_PY_FROM) or 0),
                })
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = self._stage(si["Stage ID"], si.get("Stage Attempt ID", 0))
                st["submitted"] = si.get("Submission Time")
                st["completed"] = si.get("Completion Time")

    def _stage(self, sid: int, attempt: int) -> dict:
        return self.stages.setdefault((sid, attempt), {"tasks": []})

    def window(self, t0: float, t1: float) -> dict:
        """Counts over stages submitted in [t0, t1] (epoch seconds)."""
        lo, hi = t0 * 1000, t1 * 1000
        stages = [s for s in self.stages.values()
                  if s.get("submitted") is not None and lo <= s["submitted"] <= hi]
        tasks = [t for s in stages for t in s["tasks"]]
        out = {k: sum(t[k] for t in tasks)
               for k in ("gc", "spill", "sh_read", "sh_blocks", "sh_write", "py_to", "py_from")}
        out["jobs"] = sum(1 for t in self.job_times if lo <= t <= hi)
        slow = max(stages, key=lambda s: (s["completed"] or 0) - s["submitted"],
                   default=None)
        durs = [t["dur"] for t in slow["tasks"]] if slow else []
        out["slow_stage_tasks"] = len(durs)
        med = statistics.median(durs) if durs else 0.0
        out["task_skew"] = max(durs) / med if med > 0 else 1.0
        return out


def find_event_log(directory: Path) -> Path:
    logs = [p for p in Path(directory).iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(logs)}")
    return logs[0]
