"""Measurement plumbing shared by the workloads.

* ``Tracer``: benchmark-side spans (name, start, end, parent, run id). When
  enabled, each span also sets a Spark job group, so the event log can
  attribute every job -- and through it every stage and task -- to the
  innermost span that was open when the job started.
* ``OpSampler``: per operation, its wall time, the share of it the
  hypervisor stole, the CPU time of this process and all its descendants
  (the JVM and the Python workers), and their peak summed memory (PSS) from
  one ``/proc`` sampler thread.
* ``StderrTee``: routes fd 2 of this process, and so of the JVM it launches,
  through a pipe; a thread copies it to the real stderr and counts Spark
  ``ERROR`` log lines.
* ``EventLog``: reads a Spark event log (uncompressed JSON lines) into jobs,
  stages, tasks and SQL executions keyed for per-span aggregation.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import sys
import threading
import time

_ERROR_LINE = re.compile(rb"\sERROR\s")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linearly interpolated quantile of a non-empty sample, 0 <= q <= 1."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


class Tracer:
    """Spans around the benchmark's calls into the engine. Disabled, a span
    only yields; enabled, it records itself and labels Spark jobs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        # one id per top-level span, shared by every span under it
        self.run_id = 0
        self._stack: list[int] = []

    def _set_group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"span-{top}", self.spans[top]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        if not self._stack:
            self.run_id += 1
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def subtree(self, span_id: int) -> set[int]:
        ids = {span_id}
        for s in self.spans:  # parents always precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans
            if c["parent"] == span["id"] and c["end"] is not None
        )
        return span["end"] - span["start"] - covered(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root: int | None = None) -> list[int]:
    children = _children()
    out, todo = [], list(children.get(root or os.getpid(), ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    including the children they have reaped."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / _CLK_TCK


def stolen_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs were ready to run, averaged over the CPUs (``steal`` of
    ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK / (os.cpu_count() or 1)


def tree_memory_mb() -> float:
    """Summed proportional set size of this process and its descendants.
    PSS, not RSS: while the JVM forks a Python worker, the child briefly
    shares all of the JVM's pages, and summed RSS would count them twice."""
    return sum(_pss_kb(p) for p in [os.getpid(), *descendants()]) / 1024.0


class OpSampler:
    """Per operation: its kind, wall seconds, wall seconds net of steal,
    CPU seconds and peak MB of the process tree. Call ``begin`` before an
    operation, ``end`` after it, and ``take`` for the samples so far."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.ops: list[dict] = []
        self._kind = ""
        self._t0 = self._cpu0 = self._stolen0 = 0.0
        self._peak = 0.0
        self._active = False
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._halt.wait(self.interval):
            if self._active:
                mb = tree_memory_mb()
                with self._lock:
                    self._peak = max(self._peak, mb)

    def begin(self, kind: str = "op") -> None:
        self._kind = kind
        mb = tree_memory_mb()
        with self._lock:
            self._peak = mb
            self._active = True
        self._cpu0 = tree_cpu_s()
        self._stolen0 = stolen_s()
        self._t0 = time.monotonic()

    def end(self) -> None:
        wall = time.monotonic() - self._t0
        op = {"kind": self._kind, "wall": wall, "net": wall - (stolen_s() - self._stolen0),
              "cpu": tree_cpu_s() - self._cpu0}
        mb = tree_memory_mb()
        with self._lock:
            self._active = False
            op["peak"] = max(self._peak, mb)
        self.ops.append(op)

    def take(self) -> list[dict]:
        out, self.ops = self.ops, []
        return out

    def close(self) -> None:
        self._halt.set()
        self._thread.join(timeout=5)


def mix_median(ops: list[dict], key: str) -> float:
    """Mean over the operation mix of each kind's median ``key``: robust to
    a stray slow operation like a median, and unlike the median of a mix of
    fast and slow kinds, it does not jump from one kind to another."""
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kinds.setdefault(op["kind"], []).append(op[key])
    return sum(len(v) * median(v) for v in kinds.values()) / len(ops) if ops else 0.0


class StderrTee:
    """Counts ``ERROR`` lines written to fd 2 by this process or its
    children while still passing everything through to the real stderr."""

    def __init__(self, log_path: str):
        self.error_lines = 0
        self._lock = threading.Lock()
        sys.stderr.flush()
        self._saved = os.dup(2)
        read_fd, write_fd = os.pipe()
        os.dup2(write_fd, 2)
        os.close(write_fd)
        self._read_fd = read_fd
        self._log = open(log_path, "wb")
        self._thread = threading.Thread(target=self._pump, name="stderr-tee", daemon=True)
        self._thread.start()

    def _pump(self) -> None:
        tail = b""
        while True:
            chunk = os.read(self._read_fd, 65536)
            if not chunk:
                break
            os.write(self._saved, chunk)
            self._log.write(chunk)
            *lines, tail = (tail + chunk).split(b"\n")
            hits = sum(1 for line in lines if _ERROR_LINE.search(line))
            if hits:
                with self._lock:
                    self.error_lines += hits

    def count(self) -> int:
        with self._lock:
            return self.error_lines

    def close(self) -> None:
        """Restore fd 2. Call after every child holding the pipe has ended,
        so the pump sees end-of-file."""
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        self._thread.join(timeout=5)
        os.close(self._read_fd)
        self._log.close()
        os.close(self._saved)


def _num(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


class EventLog:
    """A Spark event log as plain dicts. Times are epoch milliseconds."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.execs: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "exec": _num(props.get("spark.sql.execution.id")),
                        "stages": list(ev.get("Stage IDs") or []),
                        "start": ev.get("Submission Time"),
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc: dict[str, float] = {}
                    for a in info.get("Accumulables") or []:
                        v = _num(a.get("Value"))
                        if v is not None and a.get("Name"):
                            acc[a["Name"]] = acc.get(a["Name"], 0.0) + v
                    self.stages[info["Stage ID"]] = {
                        "name": info.get("Stage Name", ""),
                        "tasks": info.get("Number of Tasks", 0),
                        "accums": acc,
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    im = tm.get("Input Metrics") or {}
                    self.tasks.setdefault(ev["Stage ID"], []).append({
                        "ms": (ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0),
                        "run_ms": tm.get("Executor Run Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "records_read": im.get("Records Read", 0),
                    })
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.execs[ev["executionId"]] = {
                        "plan": ev.get("physicalPlanDescription", ""),
                        "start": ev.get("time"),
                        "end": None,
                    }
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    ex = self.execs.get(ev["executionId"])
                    if ex is not None:
                        ex["end"] = ev.get("time")

    def jobs_of(self, groups: set[str]) -> list[int]:
        return sorted(j for j, job in self.jobs.items() if job["group"] in groups)

    def stages_of(self, job_ids) -> list[int]:
        return sorted({s for j in job_ids for s in self.jobs[j]["stages"] if s in self.stages})

    def tasks_of(self, job_ids) -> list[dict]:
        return [t for s in self.stages_of(job_ids) for t in self.tasks.get(s, [])]

    def accum(self, job_ids, name: str) -> float:
        return sum(self.stages[s]["accums"].get(name, 0.0) for s in self.stages_of(job_ids))

    def execs_of(self, job_ids) -> list[int]:
        ids = {int(self.jobs[j]["exec"]) for j in job_ids if self.jobs[j]["exec"] is not None}
        return sorted(i for i in ids if i in self.execs)

    def exec_seconds(self, exec_id: int) -> float:
        ex = self.execs[exec_id]
        return ((ex["end"] or ex["start"]) - ex["start"]) / 1000.0

    def totals(self, job_ids) -> dict:
        tasks = self.tasks_of(job_ids)
        run_ms = sum(t["run_ms"] for t in tasks)
        return {
            "jobs": len(job_ids),
            "tasks": len(tasks),
            "gc_frac": sum(t["gc_ms"] for t in tasks) / run_ms if run_ms else 0.0,
            "shuffle_bytes": sum(t["shuffle_write"] for t in tasks),
            "records_read": sum(t["records_read"] for t in tasks),
        }
