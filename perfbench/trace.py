"""Measurement plumbing: spans, the Spark event-log parser and the memory
sampler. Nothing here imports the program under test."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent id), written out once at
    the end. A disabled tracer records nothing, so untraced runs pay only
    the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out


# --------------------------------------------------------------- memory


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command line) for every readable process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read(4096).replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        table[int(d)] = (int(stat.rsplit(")", 1)[1].split()[1]), cmd)
    return table


def _rss_bytes(pid: int) -> int:
    """Resident set size from ``statm``: a constant-time read. (PSS from
    ``smaps_rollup`` walks the page tables under the process's mmap
    lock, which stalls the JVM's allocations while it runs.)"""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _program_tree() -> tuple[int, list[int], list[int]]:
    """(this process, the Spark JVMs it started, the JVMs' descendants,
    i.e. the Python workers)."""
    root = os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _cmd) in table.items():
        kids.setdefault(ppid, []).append(pid)
    jvms = [p for p in kids.get(root, []) if "java" in table[p][1].split(" ", 1)[0]]
    workers, todo = [], [k for j in jvms for k in kids.get(j, [])]
    while todo:
        pid = todo.pop()
        workers.append(pid)
        todo.extend(kids.get(pid, []))
    return root, jvms, workers


class MemorySampler:
    """Samples the RSS of the program's processes (see ``_program_tree``)
    from ``/proc``; keeps the peaks. Pages the forked Python workers share
    count once per worker."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "python_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        root, jvms, workers = _program_tree()
        cur = {
            "driver": _rss_bytes(root),
            "jvm": sum(_rss_bytes(p) for p in jvms),
            "python_workers": sum(_rss_bytes(p) for p in workers),
        }
        cur["total"] = sum(cur.values())
        for k, v in cur.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        self._sample()
        return {k: v / 2**20 for k, v in self.peak.items()}


# ------------------------------------------------------------ event log


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description: jobs, stages, tasks, executor run/CPU/GC time,
    shuffle bytes, spill, and each stage's span and task durations, from
    the one Spark JSON event log in ``log_dir``. Standard library only."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_tag: dict[int, str] = {}
    tags: dict[str, dict] = {}

    def bucket(tag: str) -> dict:
        return tags.setdefault(tag, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "stage_ms": {}, "task_ms": {},
        })

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                bucket((ev.get("Properties") or {}).get("spark.job.description") or "")["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                tag = (ev.get("Properties") or {}).get("spark.job.description") or ""
                stage_tag[ev["Stage Info"]["Stage ID"]] = tag
                bucket(tag)["stages"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Completion Time") and info.get("Submission Time"):
                    b = bucket(stage_tag.get(info["Stage ID"], ""))
                    b["stage_ms"][info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                b = bucket(stage_tag.get(sid, ""))
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                info = ev["Task Info"]
                b["tasks"] += 1
                b["executor_run_ms"] += m.get("Executor Run Time", 0)
                b["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                b["gc_ms"] += m.get("JVM GC Time", 0)
                b["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                b["task_ms"].setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
    return tags


def spark_totals(tags: dict[str, dict], keep) -> dict[str, float]:
    """Sum the buckets whose description satisfies ``keep``; the task skew
    is max/median task time in the longest of their stages."""
    keys = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    out = dict.fromkeys(keys, 0.0)
    stage_ms: dict[int, float] = {}
    task_ms: dict[int, list[float]] = {}
    for tag, b in tags.items():
        if not keep(tag):
            continue
        for k in keys:
            out[k] += b[k]
        stage_ms.update(b["stage_ms"])
        task_ms.update(b["task_ms"])
    out["task_skew"] = 0.0
    if stage_ms:
        durs = task_ms.get(max(stage_ms, key=stage_ms.get), [])
        if durs and statistics.median(durs) > 0:
            out["task_skew"] = max(durs) / statistics.median(durs)
    return out
