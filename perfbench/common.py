"""Shared measurement pieces: spans, Spark event-log reduction, cold-query
hygiene, process-tree RSS sampling and the CPU calibration probe."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import signal
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return statistics.geometric_mean(values) if values else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def cpu_calibration_s() -> float:
    """Fixed single-thread probe (sha256 over 64 MiB): a box-speed yardstick
    stored with every record, so box drift can be told from code change."""
    blob = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(64):
        h.update(blob)
    return time.perf_counter() - t0


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    sid: int = 0


@dataclass
class Tracer:
    """In-memory spans around calls into the program's layers.

    With ``enabled`` false ``span`` only times the block, so the untraced
    passes pay no bookkeeping beyond a clock read.  With it on, each span
    also tags the Spark jobs it fires with its own job group
    ``<sid>:<name>`` so the event log attributes them."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str = ""):
        if not self.enabled:
            s = Span(name, op, time.time())
            try:
                yield s
            finally:
                s.end = time.time()
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, op, time.time(), parent=parent, sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{s.sid}:{name}", f"{op} {name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                sc.setJobGroup(f"{top.sid}:{top.name}", f"{top.op} {top.name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, obj, method: str, name: str) -> None:
        """Shadow ``obj.method`` on this instance with a spanned call."""
        fn = getattr(obj, method)

        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, spanned)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.sid]
        return dict(out)

    def totals(self) -> dict[str, float]:
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.sid, "name": s.name, "op": s.op,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent}) + "\n")


# -------------------------------------------------------------- event log


@dataclass
class JobStats:
    job: int
    group: str | None
    submitted: float
    callsite: str = ""
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0


def reduce_event_log(log_dir: str) -> list[JobStats]:
    """Per-job totals from the newest Spark event log under ``log_dir``
    (stdlib JSON only)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return []
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or []
                j = JobStats(ev["Job ID"], props.get("spark.jobGroup.id"),
                             ev.get("Submission Time", 0) / 1000.0,
                             callsite=infos[-1].get("Details", "") if infos else "")
                jobs[j.job] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j.job)
            elif kind == "SparkListenerStageCompleted":
                j = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if j:
                    j.stages += 1
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                if j is None:
                    continue
                j.tasks += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    j.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                j.run_s += m.get("Executor Run Time", 0) / 1000.0
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return list(jobs.values())


def attribute_jobs(jobs: list[JobStats], tracer: Tracer) -> dict[int, list[JobStats]]:
    """Span id -> jobs.  A job carrying one of the tracer's job groups goes
    to that span; any other job (streaming micro-batches run under their
    own query group) goes to the innermost span open at its submission."""
    by_span: dict[int, list[JobStats]] = defaultdict(list)
    spans = tracer.spans
    for j in jobs:
        sid = None
        if j.group and ":" in j.group:
            head = j.group.split(":", 1)[0]
            if head.isdigit() and int(head) < len(spans):
                sid = int(head)
        if sid is None:
            open_spans = [s for s in spans if s.start <= j.submitted <= s.end]
            if open_spans:
                sid = max(open_spans, key=lambda s: s.start).sid
        if sid is not None:
            by_span[sid].append(j)
    return by_span


def sum_jobs(jobs: list[JobStats], prefix: str) -> dict[str, float]:
    return {
        f"{prefix}.jobs": len(jobs),
        f"{prefix}.stages": sum(j.stages for j in jobs),
        f"{prefix}.tasks": sum(j.tasks for j in jobs),
        f"{prefix}.failed_tasks": sum(j.failed_tasks for j in jobs),
        f"{prefix}.executor_run_s": sum(j.run_s for j in jobs),
        f"{prefix}.executor_cpu_s": sum(j.cpu_s for j in jobs),
        f"{prefix}.gc_s": sum(j.gc_s for j in jobs),
        f"{prefix}.shuffle_read_bytes": sum(j.shuffle_read for j in jobs),
        f"{prefix}.shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
        f"{prefix}.spill_bytes": sum(j.spill for j in jobs),
        f"{prefix}.input_bytes": sum(j.input_bytes for j in jobs),
    }


# ------------------------------------------------------ cold-run hygiene


def release_blocks(spark) -> None:
    """Between timed calls, outside the timed region: drop cached and
    checkpointed blocks, stop idle Python workers and force a JVM GC so the
    ContextCleaner deletes shuffle and broadcast files.  Every query then
    starts cold, independent of what ran before it."""
    sc = spark.sparkContext
    try:
        spark.catalog.clearCache()
        for jrdd in sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception as exc:  # cleanup must not end the run
        print(f"perfbench: cache release failed: {exc}", file=sys.stderr)
    # Idle Python workers keep the memory of whatever ran in them; no public
    # API reaches PythonWorkerFactory.idleWorkers, so use reflection.
    try:
        gw, jvm = sc._gateway, sc._jvm
        no_cls = gw.new_array(jvm.java.lang.Class, 0)
        no_arg = gw.new_array(jvm.java.lang.Object, 0)
        env = jvm.org.apache.spark.SparkEnv.get()
        m = env.getClass().getDeclaredMethod("pythonWorkers", no_cls)
        m.setAccessible(True)
        factories = m.invoke(env, no_arg).valuesIterator()
        while factories.hasNext():
            fac = factories.next()
            qm = fac.getClass().getDeclaredMethod("idleWorkers", no_cls)
            qm.setAccessible(True)
            idle = qm.invoke(fac, no_arg)
            while not idle.isEmpty():
                fac.stopWorker(idle.dequeue())
    except Exception as exc:
        print(f"perfbench: worker reap failed: {exc}", file=sys.stderr)
    sc._jvm.System.gc()


# ------------------------------------------------------------- RSS sampler


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes mapping it, so a short-lived child the JVM spawns
    (it briefly maps the parent's heap) is not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree_rss(root: int) -> tuple[int, dict[str, int]]:
    """Memory of ``root`` and all its descendants (driver, JVM, Python
    daemon and workers), in total and per command name."""
    children = defaultdict(list)
    names = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        pid = int(d)
        children[int(tail.split()[1])].append(pid)
        names[pid] = head.split("(", 1)[1]
    by_name: dict[str, int] = defaultdict(int)
    todo = [root]
    while todo:
        pid = todo.pop()
        by_name[names.get(pid, "?")] += _pss_bytes(pid)
        todo.extend(children.get(pid, ()))
    return sum(by_name.values()), dict(by_name)


def wait_for_processes(marker: str, timeout: float = 30.0) -> list[int]:
    """Wait until no process but this one has ``marker`` in its environment
    (the JVM, the Python daemon and its workers inherit it); kill what is
    left after ``timeout`` and return those pids."""
    needle = marker.encode()
    deadline = time.monotonic() + timeout
    while True:
        left = []
        for d in os.listdir("/proc"):
            if not d.isdigit() or int(d) == os.getpid():
                continue
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        left.append(int(d))
            except OSError:
                continue
        if not left:
            return []
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            return left
        time.sleep(0.2)


class RssSampler:
    """Samples the process tree's memory every ``interval`` seconds
    while armed; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self.armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if self.armed:
                rss, by_name = _tree_rss(me)
                if rss > self.peak:
                    self.peak, self.peak_by_name = rss, by_name

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
