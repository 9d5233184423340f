"""Spans, counters and CPU accounting recorded from the benchmark's own
code around its calls into each engine layer.

Spans live in memory while the benchmark runs and are written out once
at the end. A layer is the first dotted component of a span name
(``engine.plan`` -> ``engine``); its self time is its spans' durations
minus the parts their child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, op) spans and named counts when
    enabled; when disabled every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def layer_self_times(self) -> dict[str, float]:
        """Seconds per layer, over the spans of timed ops, not covered
        by each span's children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["op"] is not None:
                out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields, from `state` on, of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # the process exited between listing and reading
            continue
        out[int(d)] = raw[raw.rindex(")") + 2:].split()
    return out


def descendants(root: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """Pids of every live process below ``root``."""
    stats = _proc_stats() if stats is None else stats
    children: dict[int, list[int]] = defaultdict(list)
    for pid, st in stats.items():
        children[int(st[1])].append(pid)
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


class ProcCpu:
    """CPU seconds of the Spark JVM and of its descendant processes
    (the Python workers Arrow UDFs run in), read from /proc. A wall
    time that rises while these stay flat points at a busy machine,
    not at slower code."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> tuple[float, float]:
        """(jvm_s, python_workers_s), cumulative since process start.
        Workers count their reaped children too, so a worker that
        exits keeps its CPU in its parent's total."""
        stats = _proc_stats()
        jvm = stats.get(self.jvm_pid)
        jvm_s = (int(jvm[11]) + int(jvm[12])) / _TICK if jvm else 0.0
        workers = sum(
            sum(int(x) for x in stats[pid][11:15])
            for pid in descendants(self.jvm_pid, stats)
        ) / _TICK
        return jvm_s, workers
