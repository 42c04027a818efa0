"""In-memory spans around calls into the engine's public functions.

Nothing inside the package is edited: spans are recorded from the
benchmark's side, by wrapping the names the package's modules call
(``plans.registry.table`` as each plan module imported it,
``DataFrame.localCheckpoint``/``checkpoint``) and by timing the
benchmark's own calls (plan build, ``collect``, sink batches, reads).

A span has a name, a start, an end, a parent and a trace id; the spans
of one query, change file or read share the trace id.  Self time is a
span's duration minus the part of it its children cover.  Spans stay in
memory until :meth:`Tracer.dump` writes them at exit.

Engine-side numbers come from Spark's own event log, which needs no UI:
:func:`eventlog_conf` enables an uncompressed, non-rolling log and
:func:`fold_eventlog` folds its task metrics per job group.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    trace: str | None
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Span recorder; one per run, shared by the client, reader and
    stream threads (each thread keeps its own parent stack)."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # perf_counter -> epoch seconds, to line spans up with the
        # event log's millisecond task timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, name, start, end, trace=None, parent=None, **attrs) -> int:
        with self._lock:
            self.spans.append(Span(name, trace, parent, start, end, attrs))
            return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent].trace
        idx = self.add(name, time.perf_counter(), None, trace, parent, **attrs)
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    # -- wrapping the engine's public functions --------------------------
    def patch(self, obj, attr: str, wrapper) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, wrapper)

    def instrument_plans(self, spark) -> None:
        """Span every ``registry.table`` call and every eager
        checkpoint.  Plan modules bind ``table`` at import time, so each
        module's own name is replaced, not only the registry's; the
        checkpoint methods are replaced on the session's concrete
        DataFrame class, which overrides the public base class's."""
        from lakehouse_cdc_spark.plans import registry

        orig_table = registry.table

        def table(spark, sf_dir, name):
            with self.span("registry.table", table=name):
                return orig_table(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("lakehouse_cdc_spark") and (
                getattr(mod, "table", None) is orig_table
            ):
                self.patch(mod, "table", table)

        df_class = type(spark.range(0))
        for meth in ("localCheckpoint", "checkpoint"):
            orig = getattr(df_class, meth)

            def wrapped(df, *a, _orig=orig, **kw):
                with self.span("plans.checkpoint"):
                    return _orig(df, *a, **kw)

            self.patch(df_class, meth, wrapped)

    def restore(self) -> None:
        while self._patches:
            obj, attr, orig = self._patches.pop()
            setattr(obj, attr, orig)

    # -- analysis ----------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids[s.parent].append(i)
        return kids

    def self_time(self, i: int, kids: dict[int, list[int]] | None = None) -> float:
        """Duration of span ``i`` minus the union of its children's
        intervals (clipped to the span)."""
        kids = self.children() if kids is None else kids
        s = self.spans[i]
        return s.dur - covered(
            s.start, s.end, [(self.spans[k].start, self.spans[k].end) for k in kids.get(i, ())]
        )

    def tree(self) -> list[dict]:
        """Aggregate span tree: one row per (path of names), with count,
        total and self seconds — the traced run prints it."""
        kids = self.children()
        agg: dict[tuple, list[float]] = {}

        def path(i):
            p = []
            while i is not None:
                p.append(self.spans[i].name)
                i = self.spans[i].parent
            return tuple(reversed(p))

        for i, s in enumerate(self.spans):
            if s.end is None:
                continue
            row = agg.setdefault(path(i), [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.dur
            row[2] += self.self_time(i, kids)
        return [
            {"path": " > ".join(p), "count": c, "total_s": round(t, 4),
             "self_s": round(st, 4)}
            for p, (c, t, st) in sorted(agg.items())
        ]

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "epoch_offset": self.epoch_offset,
            "spans": [
                {"id": i, "name": s.name, "trace": s.trace, "parent": s.parent,
                 "start": s.start, "end": s.end, **({"attrs": s.attrs} if s.attrs else {})}
                for i, s in enumerate(self.spans)
            ],
            "tree": self.tree(),
            **(extra or {}),
        }
        with open(path, "w") as f:
            json.dump(doc, f, default=str)


# -- process CPU --------------------------------------------------------------


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and every live descendant: the benchmark, the Spark JVM
    and its Python workers.  Time the host steals from the guest is not
    CPU time, so this moves much less than the wall clock when
    co-tenants slow the host."""
    root = os.getpid() if root is None else root
    tick = os.sysconf("SC_CLK_TCK")
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        # utime, stime, and the same for reaped children
        used[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += ticks
    return total / tick


# -- Spark event log ---------------------------------------------------------


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    #: (launch, finish) epoch seconds of every task
    task_windows: list = field(default_factory=list)

    def metrics(self) -> dict[str, float]:
        return {
            "engine.jobs": self.jobs, "engine.tasks": self.tasks,
            "engine.executor_run_s": self.run_s, "engine.executor_cpu_s": self.cpu_s,
            "engine.gc_s": self.gc_s, "engine.shuffle_write_bytes": self.shuffle_write_bytes,
            "engine.fetch_wait_s": self.fetch_wait_s,
        }


def fold_eventlog(log_dir: str) -> dict[str, GroupStats]:
    """Fold every finished task of the log(s) in ``log_dir`` by the job
    group its job ran under (``spark.jobGroup.id``)."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    g = out[group]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.run_s += m.get("Executor Run Time", 0) / 1e3
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g.fetch_wait_s += (m.get("Shuffle Read Metrics") or {}).get(
                        "Fetch Wait Time", 0) / 1e3
                    if info.get("Launch Time") and info.get("Finish Time"):
                        g.task_windows.append(
                            (info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    return out


def covered(lo: float, hi: float, windows) -> float:
    """Length of the union of ``windows`` clipped to ``[lo, hi]``."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in windows):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def idle_seconds(lo: float, hi: float, windows) -> float:
    """Seconds of ``[lo, hi]`` during which none of ``windows`` ran."""
    return max(0.0, (hi - lo) - covered(lo, hi, windows))
