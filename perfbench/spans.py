"""Span recorder for the traced benchmark run.

Spans come from wrappers installed at run time around public functions
of the package's modules; no program file is edited. Each span keeps
its name, start, end and parent; spans stay in memory and are written
out once, when the run ends. A span's self time is its duration minus
the part of it that its child spans cover.

Operations (one build, one ``run_increment`` call, one query) are also
spans. Around each the recorder sets a Spark job group, so the event
log can be attributed to the operation, and after each it samples the
JVM's peak RSS (``VmHWM``) and the block-manager storage still held.

The recorder times its own bookkeeping; that sum is reported as the
tracing overhead. Event-log writing is not part of it.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vmhwm_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` in MB, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by process ``root_pid`` and every live descendant: the Spark JVM and
    its Python worker daemon and workers."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            total += c
    return total


def storage_held_mb(spark) -> float:
    """Memory plus disk held by persisted and checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


class Tracer:
    """Records spans while ``enabled``; every method is a cheap no-op
    otherwise, so the untraced run executes the same benchmark code."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.samples: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self._pid = jvm_pid(spark)

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str, attrs: dict) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sp = self._open(name, attrs)
        self.cost_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            t = time.perf_counter()
            self._close(sp)
            self.cost_s += time.perf_counter() - t

    @contextmanager
    def op(self, group: str, **attrs):
        """One benchmark operation: a span that also owns a job group
        and ends with a memory sample."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        t = time.perf_counter()
        sc.setJobGroup(group, group)
        self.cost_s += time.perf_counter() - t
        with self.span(group, group=group, **attrs) as sp:
            yield sp
        t = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.samples.append({
            "group": group,
            "storage_held_mb": storage_held_mb(self.spark),
            "vmhwm_mb": vmhwm_mb(self._pid),
        })
        self.cost_s += time.perf_counter() - t

    # -- wrappers ------------------------------------------------------------

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap ``owner.attr`` for each ``(owner, attr, span_name)``;
        owners are modules or classes."""
        if not self.enabled:
            return
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrapper(orig, name))

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- queries over the recorded spans -------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, sp: Span) -> float:
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.id)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return sp.dur - covered

    def within(self, outer: Span, name: str) -> list[Span]:
        """Spans called ``name`` that descend from ``outer``."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and p != outer.id:
                p = by_id[p].parent
            if p == outer.id:
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent,
                                    "start": s.start, "end": s.end, **s.attrs}) + "\n")
