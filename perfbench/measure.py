"""Measurement taken from outside the engine: spans, Spark job and stage
metrics from the status store, process CPU and memory from ``/proc``, and
micro-batch progress from a streaming listener.

Nothing here changes what the engine does. Spans wrap the benchmark's own
calls into the engine's public functions; job spans come from the status
store after each op has finished.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
# Spark stamps job times in whole milliseconds; a job span may overhang
# the Python span around the call that started it by that much.
NEST_TOL_S = 0.002


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "id": self.sid,
            "parent": self.parent,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            **self.attrs,
        }


class Tracer:
    """In-memory span recorder. Off, :meth:`span` only yields ``None``; on,
    every span is kept until :meth:`dump`."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> Span:
        s = Span(len(self.spans), parent.sid if parent else None, name, start, end, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        s = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def self_time(self, s: Span) -> float:
        """``s``'s duration minus the union of its children's intervals."""
        ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in self.children(s))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s.end - s.start) - covered

    def dump(self) -> list[dict]:
        return [s.as_dict() for s in self.spans]


# -- /proc ------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own cpu s, reaped-children cpu s) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return int(rest[1]), comm, (utime + stime) / _TICK, (cutime + cstime) / _TICK


class ProcProbe:
    """CPU seconds of the JVM, this driver process and the Python workers
    the JVM forks, read from ``/proc``."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        tree: dict[int, tuple[int, str, float, float]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    tree[int(name)] = st
        jvm = tree.get(self.jvm_pid)
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in tree.items():
            kids.setdefault(ppid, []).append(pid)
        workers, todo = 0.0, list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            _ppid, comm, own, reaped = tree[pid]
            if comm.startswith("python"):
                # A worker that exits is reaped by the pyspark daemon, so its
                # CPU moves into the daemon's children counters.
                workers += own + reaped
            todo.extend(kids.get(pid, []))
        t = os.times()
        return {
            "jvm": jvm[2] if jvm else 0.0,
            "driver": t.user + t.system,
            "pyworker": workers,
        }

    def jvm_hwm_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the JVM")


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


def steal_s() -> float:
    """CPU seconds since boot, over all CPUs, that the hypervisor gave to
    other guests while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


# -- Spark status store -------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Jobs and stage metrics from ``sc._jsc.sc().statusStore()``."""

    # Job ids are dense; look this far past a missing one before deciding
    # that no newer job has been posted yet.
    _LOOKAHEAD = 4

    def __init__(self, sc) -> None:
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._next = 0
        self._pending: set[int] = set()
        self._seen_stages: set[int] = set()

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Exception:  # not posted yet, or evicted from the store
            return None

    def new_jobs(self) -> list[dict]:
        """Every job that finished since the last call, with its stage
        metrics; each stage is counted in the first job that ran it."""
        self._sc.listenerBus().waitUntilEmpty()
        probe = self._next
        while probe < self._next + self._LOOKAHEAD:
            if self._job(probe) is not None:
                self._pending.update(range(self._next, probe + 1))
                self._next = probe + 1
            probe += 1
        out = []
        for jid in sorted(self._pending):
            j = self._job(jid)
            if j is not None and not j.completionTime().isDefined():
                continue
            self._pending.discard(jid)
            if j is None:
                continue
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            stages = [self._stage(sid) for sid in _seq(j.stageIds())]
            out.append(
                {
                    "job": jid,
                    "group": group,
                    "start": _opt_ms(j.submissionTime()),
                    "end": _opt_ms(j.completionTime()),
                    **_sum_stages([s for s in stages if s]),
                }
            )
        return out

    def _stage(self, sid: int) -> dict | None:
        if sid in self._seen_stages:
            return None
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # stage evicted from the store or never attempted
            return None
        sub = _opt_ms(s.submissionTime())
        if sub is None:  # skipped: its output was reused from another job
            return None
        self._seen_stages.add(sid)
        first = _opt_ms(s.firstTaskLaunchedTime())
        return {
            "stages": 1,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
            "input_mb": s.inputBytes() / 2**20,
            "sched_wait_s": max(0.0, first - sub) if first is not None else 0.0,
        }

    def cached_mb(self) -> float:
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo()) / 2**20


STAGE_KEYS = (
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
    "sched_wait_s",
)


def _sum_stages(stages: list[dict]) -> dict:
    return {k: sum(s[k] for s in stages) for k in STAGE_KEYS}


# -- streaming --------------------------------------------------------------


def progress_listener(sink: list):
    """A ``StreamingQueryListener`` that appends ``(trigger start epoch s,
    triggerExecution s, query name)`` per micro-batch to ``sink``."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            sink.append((ts, p.durationMs.get("triggerExecution", 0) / 1e3, p.name))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()
