"""Measurement from outside the engine.

* :class:`Counters` reads scheduler counters. Job and stage ids are
  handed out in order by the DAG scheduler, so a phase's jobs are the
  ids issued between two reads of the next id. That window also takes in
  jobs whose group the engine does not control, such as streaming
  micro-batches, which Spark runs under the query's own job group. Stage
  task counts come from ``statusTracker``, which works with the Spark UI
  disabled; byte counters come from the same status store.
* :class:`Tracer` records spans (name, start, end, parent, operation id)
  in memory. :func:`install_layer_wrappers` times calls into each layer's
  functions by rebinding the names where the engine's modules bound them.
  No engine file is edited.
* :class:`StreamProbe` is a ``StreamingQueryListener`` that keeps the
  per-epoch progress events.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import re
import resource
import sys
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "aind_data_transformation_spark"

#: layer name -> the engine module whose functions make up the layer
LAYERS = {
    "io.sources": f"{PACKAGE}.io.sources",
    "io.txlog_source": f"{PACKAGE}.io.txlog_source",
    "ops": f"{PACKAGE}.ops",
    "texthash": f"{PACKAGE}.texthash",
}


@dataclass
class Window:
    """Scheduler ids issued during one phase."""

    job0: int
    stage0: int
    job1: int = -1
    stage1: int = -1

    @property
    def jobs(self) -> int:
        return self.job1 - self.job0

    def stage_ids(self) -> range:
        return range(self.stage0, self.stage1)


class Counters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc.statusTracker()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def open(self) -> Window:
        return Window(*self.mark())

    def close(self, w: Window) -> Window:
        w.job1, w.stage1 = self.mark()
        return w

    def settle(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._bus.waitUntilEmpty(120_000)

    def stages(self, stage_ids) -> tuple[int, int]:
        """(stages that ran a task, tasks run) among ``stage_ids``,
        read through ``statusTracker``. Call :meth:`settle` first."""
        n_stages = n_tasks = 0
        for sid in stage_ids:
            info = self._tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += info.numCompletedTasks
        return n_stages, n_tasks

    def group_jobs(self, group: str) -> int:
        """Jobs run under a Spark job group (a streaming query runs its
        micro-batches under its run id)."""
        return len(self._tracker.getJobIdsForGroup(group))

    def stage_bytes(self, stage_ids) -> dict[str, float]:
        """Shuffle, spill, CPU and GC totals of ``stage_ids`` from the
        status store (present with or without the UI)."""
        tot = defaultdict(float)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: stage never ran
                continue
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
        return dict(tot)

    def job_times(self, job_ids) -> dict[int, tuple[float, float]]:
        """Submission and completion time (epoch seconds) per job."""
        out = {}
        for jid in job_ids:
            try:
                jd = self._store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: job not recorded
                continue
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                out[jid] = (sub.get().getTime() / 1e3, end.get().getTime() / 1e3)
        return out


def rest_counts(spark, w: Window) -> tuple[int, int]:
    """(jobs, stages that ran a task) of ``w`` read from the UI's REST
    API. Used by the self-test to cross-check :class:`Counters`."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def get(path):
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
            return json.load(r)

    jobs = [j for j in get("jobs") if w.job0 <= j["jobId"] < w.job1]
    stages = {
        s["stageId"]
        for s in get("stages")
        if w.stage0 <= s["stageId"] < w.stage1 and s["numCompleteTasks"] > 0
    }
    return len(jobs), len(stages)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int
    op: int
    window: Window
    children: list = field(default_factory=list)

    def as_dict(self, sid: int) -> dict:
        return {
            "id": sid, "name": self.name, "layer": self.layer,
            "start": self.start, "end": self.end, "parent": self.parent,
            "op": self.op, "jobs": [self.window.job0, self.window.job1],
        }


class Tracer:
    """In-memory spans. Spans nest: the innermost open span is the
    parent of the next one. Layer wrappers record only while
    ``enabled`` is set."""

    def __init__(self, counters: Counters):
        self.counters = counters
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)
        self.op = -1

    def begin(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        sp = Span(name, layer, time.time(), 0.0, parent, self.op, self.counters.open())
        self.spans.append(sp)
        sid = len(self.spans) - 1
        if parent >= 0:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        self._depth[layer] += 1
        return sid

    def end(self, sid: int) -> None:
        sp = self.spans[sid]
        self.counters.close(sp.window)
        sp.end = time.time()
        self._stack.pop()
        self._depth[sp.layer] -= 1

    def inside(self, layer: str) -> bool:
        return self._depth[layer] > 0

    def add_job_spans(self, first_span: int) -> None:
        """Add one span per Spark job issued under spans ``first_span..``,
        parented to the innermost span whose window holds the job."""
        top = len(self.spans)
        owner = {}
        for sid in range(first_span, top):
            for jid in range(self.spans[sid].window.job0, self.spans[sid].window.job1):
                owner[jid] = sid  # later (inner) spans overwrite outer ones
        for jid, (t0, t1) in sorted(self.counters.job_times(owner).items()):
            parent = owner[jid]
            # the JVM stamps job times in ms; keep them inside the parent
            t0 = max(t0, self.spans[parent].start)
            t1 = max(t0, min(t1, self.spans[parent].end))
            sp = Span(f"job {jid}", "spark.job", t0, t1, parent,
                      self.spans[parent].op, Window(jid, 0, jid + 1, 0))
            self.spans.append(sp)
            self.spans[parent].children.append(len(self.spans) - 1)

    def self_times(self, first: int, last: int) -> dict[str, float]:
        """Per layer: time of spans ``first..last-1`` not covered by
        their children. Spark jobs can overlap one another, so a span's
        job children count once, as the part of the span their union
        covers and no other child does."""
        out = defaultdict(float)
        for sp in self.spans[first:last]:
            if sp.layer == "spark.job":
                continue
            kids = [self.spans[c] for c in sp.children]
            every = _union([(k.start, k.end) for k in kids], sp.start, sp.end)
            calls = _union([(k.start, k.end) for k in kids if k.layer != "spark.job"],
                           sp.start, sp.end)
            out[sp.layer] += max(0.0, sp.end - sp.start - every)
            out["spark.job"] += every - calls
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, sp in enumerate(self.spans):
                fh.write(json.dumps(sp.as_dict(sid)) + "\n")


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur_end:
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total


def _engine_modules():
    return [m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]


def install_layer_wrappers(tracer: Tracer) -> dict[str, int]:
    """Wrap every function of each layer module, in the layer module and
    wherever another engine module bound it by name. Calls made while
    the same layer is already open pass straight through, so a layer's
    count is of calls entering it. Returns the names rebound per layer."""
    import importlib

    bound: dict[str, int] = {}
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        originals = {
            name: fn for name, fn in vars(mod).items()
            if inspect.isfunction(fn) and fn.__module__ == modname
        }
        wrappers = {id(fn): _wrap(tracer, layer, fn) for fn in originals.values()}
        bound[layer] = 0
        for m in _engine_modules():
            for attr, val in list(vars(m).items()):
                w = wrappers.get(id(val))
                if w is not None and inspect.isfunction(val):
                    setattr(m, attr, w)
                    bound[layer] += 1
    return bound


def _wrap(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        if not tracer.enabled or tracer.inside(layer):
            return fn(*args, **kwargs)
        sid = tracer.begin(fn.__name__, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(sid)

    return call


class StreamProbe(StreamingQueryListener):
    """Keeps every micro-batch progress event of the session."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "run": str(p.runId),
            "rows": p.numInputRows,
            "ms": p.durationMs.get("triggerExecution", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver's Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` and every process below it: the driver, the JVM it
    launched and the JVM's Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(d)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid in cpu:
        p = pid
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            total += cpu[pid]
    return total / tick


#: thread-name prefixes (as the kernel shows them, cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def jvm_thread_cpu_s(pid: int) -> tuple[float, float]:
    """CPU seconds used so far by the JVM's JIT compiler threads and by
    its garbage-collector threads."""
    tick = os.sysconf("SC_CLK_TCK")
    jit = gc = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:  # the thread ended while we looked
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw.rsplit(")", 1)[1].split()
        cpu = int(fields[11]) + int(fields[12])
        if name.startswith(JIT_THREADS):
            jit += cpu
        elif name.startswith(GC_THREADS):
            gc += cpu
    return jit / tick, gc / tick


def tree_bytes(root: str, since: float) -> int:
    """Bytes of the files under ``root`` modified at or after ``since``."""
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:  # removed while we walked
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


_COMMIT = re.compile(r"^\d+\.json$")


def txlog_counts(root: str, since: float) -> dict[str, int]:
    """What the txlog tables under ``root`` gained since ``since``: commit
    files, checkpoints and bytes in each ``_log`` directory, and parquet
    data files elsewhere in the table directory that holds it. Files
    hard-linked from a staged fixture keep their old time and are not
    counted as written."""
    out = {"commits": 0, "checkpoints": 0, "data_files_written": 0, "log_bytes": 0}
    tables = []
    for d, dirs, files in os.walk(root):
        if "_log" in dirs:
            tables.append(d)
        if os.path.basename(d) == "_log":
            out["checkpoints"] += sum(
                1 for x in dirs if x.startswith("_checkpoint_") and not x.endswith(".tmp")
                and os.stat(os.path.join(d, x)).st_mtime >= since)
        in_log = "_log" in d.split(os.sep)
        in_table = any(d == t or d.startswith(t + os.sep) for t in tables)
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            if st.st_mtime < since:
                continue
            if in_log:
                out["log_bytes"] += st.st_size
                out["commits"] += os.path.basename(d) == "_log" and bool(_COMMIT.match(f))
            elif in_table and f.endswith(".parquet"):
                out["data_files_written"] += 1
    return out
