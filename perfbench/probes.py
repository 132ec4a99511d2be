"""Measurement probes that sit outside the engine package.

* :class:`ProcTree` reads ``/proc`` for the benchmark process, the Spark
  JVM it launched and every descendant, splitting CPU time into the
  driver (this Python process), the JVM and the Python workers, and
  sampling the tree's resident memory in a background thread.
* :class:`StageReader` reads Spark's status store (works with
  ``spark.ui.enabled=false``) for the jobs and stages of one job group.
* :class:`Tracer` keeps spans in memory: each span sets its own job
  group, so every job fired while it is open (AQE sub-jobs, barriers,
  convergence checks) is attributed to it.
* :class:`BatchListener` collects per-micro-batch ``durationMs`` through
  a ``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")

CPU_KINDS = ("driver", "jvm", "pyworker")


def _read_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _TICK


def _read_pss(pid: int) -> int:
    """Proportional resident set of ``pid`` in bytes: pages shared with
    other processes (forked python workers share the daemon's) are
    split between them, so the tree's sum counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat", "rb") as f:
        return int(f.readline().split()[8]) / _TICK


def _is_pyworker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


class ProcTree:
    """CPU of this process plus all its descendants; resident memory of
    this process, the JVM and the Python workers.

    Other descendants are the JVM's short-lived helper commands (Hadoop's
    local file system runs some through a shell). Between fork and exec
    such a child shares the JVM's memory (``posix_spawn`` uses vfork) and
    reports all of it as its own, so their memory is left out: a
    tiles_stream run's peak once read 5.4 GiB against 2.8-2.9 GiB in
    runs of other seeds, about the JVM's share twice.

    A worker that exits is reaped by its parent (the pyspark daemon or
    the JVM), whose ``cutime``/``cstime`` then carry its CPU, so summing
    own + reaped-children time over the live tree never loses a
    reaped worker and never counts it twice."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25):
        self.root = os.getpid()
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self._kind: dict[int, str] = {self.root: "driver", jvm_pid: "jvm"}
        self._peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, float]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _read_stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        members = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in members and pid not in members:
                    members.add(pid)
                    grew = True
        return {p: stats[p][1] for p in members if p in stats}

    def _classify(self, pid: int) -> str:
        kind = self._kind.get(pid)
        if kind is None:
            # anything that is not a pyspark worker counts with the JVM
            kind = "pyworker" if _is_pyworker(pid) else "jvm"
            self._kind[pid] = kind
        return kind

    def sample(self, memory: bool = False) -> dict[str, float]:
        """CPU seconds per kind (cumulative); with ``memory``, also
        updates the tree's peak resident memory."""
        out = dict.fromkeys(CPU_KINDS, 0.0)
        with self._lock:
            tree = self._tree()
            for pid, cpu in tree.items():
                out[self._classify(pid)] += cpu
            if memory:
                rss = sum(
                    _read_pss(pid)
                    for pid in tree
                    if pid in (self.root, self.jvm_pid) or self._kind[pid] == "pyworker"
                )
                self._peak_rss = max(self._peak_rss, rss)
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self._peak_rss = 0

    @property
    def peak_rss_mb(self) -> float:
        with self._lock:
            return self._peak_rss / 2**20

    def start(self) -> None:
        def loop():
            while not self._stop.wait(self.interval_s):
                self.sample(memory=True)

        self._thread = threading.Thread(target=loop, name="proc-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b[k] - a[k] for k in CPU_KINDS}


_SITE = re.compile(r" at (\S+?)(?::\d+)?$")


def callsite_module(stage_name: str) -> str:
    """``collect at .../osmquadtreepostgis_spark/operators/cluster.py:67``
    -> ``operators.cluster``; call sites outside the package keep the
    reported file name."""
    m = _SITE.search(stage_name)
    if not m:
        return stage_name
    path = m.group(1)
    if "osmquadtreepostgis_spark/" in path:
        mod = path.split("osmquadtreepostgis_spark/", 1)[1]
        return mod.removesuffix(".py").replace("/", ".")
    return os.path.basename(path)


class StageReader:
    """Jobs and stages from the status store, by job group."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def _jobs(self):
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def stage(self, sid: int) -> dict:
        s = self.store.lastStageAttempt(sid)
        return {
            "stage_id": sid,
            "status": str(s.status()),
            "name": s.name(),
            "module": callsite_module(s.name()),
            "tasks": s.numCompleteTasks(),
            "failed_tasks": s.numFailedTasks(),
            # the last attempt's id counts the retries before it
            "attempt": s.attemptId(),
            "exec_run_s": s.executorRunTime() / 1e3,
            "exec_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
            "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20,
        }

    def by_group(self, groups: set[str]) -> dict[str, dict]:
        """group -> {"jobs": [job ids], "stages": [stage dicts]}."""
        out = {g: {"jobs": [], "stages": []} for g in groups}
        seen_stages: set[int] = set()
        for j in self._jobs():
            g = j.jobGroup()
            gid = g.get() if g.isDefined() else None
            if gid not in out:
                continue
            out[gid]["jobs"].append(j.jobId())
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid not in seen_stages:
                    seen_stages.add(sid)
                    out[gid]["stages"].append(self.stage(sid))
        return out

    def totals(self) -> dict[str, int]:
        """Failed tasks and stage retries over every job in the store."""
        failed = retries = 0
        seen: set[int] = set()
        for j in self._jobs():
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.store.lastStageAttempt(sid)
                failed += s.numFailedTasks()
                retries += s.attemptId()
        return {"failed_tasks": failed, "stage_retries": retries}


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: int
    group: str
    start: float
    end: float = 0.0
    cpu_start: dict = field(default_factory=dict)
    cpu_end: dict = field(default_factory=dict)
    rows_out: int = 0
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the engine's layers.

    Each span sets a job group of its own and restores the enclosing
    span's group on exit, so a span's stage metrics are its SELF share;
    wall time and CPU are measured at the span boundary and the self
    share is derived by subtracting the children."""

    def __init__(self, spark, proc: ProcTree, run_tag: str):
        self.sc = spark.sparkContext
        self.proc = proc
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(
            name=name,
            span_id=sid,
            parent=parent.span_id if parent else None,
            trace_id=self._trace_id,
            group=f"{self.run_tag}:{self._trace_id}:{sid}:{name}",
            start=time.perf_counter(),
            cpu_start=self.proc.sample(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()
            sp.cpu_end = self.proc.sample()
            self._set_group(self._stack[-1] if self._stack else None)

    def collect_stages(self, reader: StageReader) -> None:
        got = reader.by_group({s.group for s in self.spans})
        for s in self.spans:
            s.jobs = got[s.group]["jobs"]
            s.stages = got[s.group]["stages"]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_s(self, span: Span) -> float:
        return span.wall_s - sum(c.wall_s for c in self.children(span))

    def self_cpu(self, span: Span) -> dict[str, float]:
        own = cpu_delta(span.cpu_start, span.cpu_end)
        for c in self.children(span):
            for k, v in cpu_delta(c.cpu_start, c.cpu_end).items():
                own[k] -= v
        return own

    def layer_fields(self, span: Span) -> dict[str, float]:
        """The per-layer metric fields of one span (self share except
        ``wall_s``)."""
        st = span.stages
        cpu = self.self_cpu(span)
        return {
            "wall_s": span.wall_s,
            "self_s": self.self_s(span),
            "rows_out": span.rows_out,
            "tasks": sum(s["tasks"] for s in st),
            "jobs": len(span.jobs),
            "exec_run_s": sum(s["exec_run_s"] for s in st),
            "jvm_cpu_s": cpu["jvm"],
            "pyworker_cpu_s": cpu["pyworker"],
            "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in st),
            "fetch_wait_s": sum(s["fetch_wait_s"] for s in st),
            "spill_mb": sum(s["spill_mb"] for s in st),
        }

    def to_json(self) -> list[dict]:
        out = []
        for s in self.spans:
            out.append(
                {
                    "name": s.name,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "trace_id": s.trace_id,
                    "job_group": s.group,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_s(s),
                    "cpu_self_s": self.self_cpu(s),
                    "rows_out": s.rows_out,
                    "job_ids": s.jobs,
                    "stages": s.stages,
                }
            )
        return out


def make_batch_listener():
    """A StreamingQueryListener recording (run_id, batch_id, rows,
    durationMs) for every micro-batch that read input."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                with self.lock:
                    self.batches.append(
                        {
                            "run_id": str(p.runId),
                            "batch_id": p.batchId,
                            "rows": p.numInputRows,
                            "duration_ms": dict(p.durationMs),
                        }
                    )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def count(self) -> int:
            with self.lock:
                return len(self.batches)

        def since(self, n: int) -> list[dict]:
            with self.lock:
                return list(self.batches[n:])

    return BatchListener()
