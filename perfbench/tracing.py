"""Measurement from outside the program: process-tree CPU, and the RSS of
the tree, the driver JVM and the Python workers, read from /proc; JVM
JIT/GC time from its management beans; and spans around calls into the
engine's modules with the Spark counters of the jobs each span launched
(one job group per span, read when the span ends).

Nothing here changes a session conf: the counters come from Spark's own
status store, read per span so the store's default retention (last 1,000
jobs and stages) never loses a span's jobs.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parts = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process exited between listdir and read
        # utime stime cutime cstime: children reaped by a tree member (the
        # Python worker daemon reaps its forked workers) stay counted
        cpu = sum(int(x) for x in parts[11:15]) / _TICK
        out[int(name)] = (int(parts[1]), cpu, int(parts[21]) * _PAGE)
    return out


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine, summed over its
    CPUs. Busy minus the process tree's CPU is what other tenants of the
    machine ran; steal is time the hypervisor gave to other machines.
    Either one is the part of a slow run the run did not cause."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / _TICK, t[7] / _TICK


def tree_pids() -> list[int]:
    """This process and its descendants."""
    return _descendants(_proc_table(), os.getpid())


def _descendants(table, root: int) -> list[int]:
    pids, frontier = [root], {root}
    while frontier:
        frontier = {p for p, (pp, _, _) in table.items() if pp in frontier}
        pids.extend(frontier)
    return [p for p in pids if p in table]


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants (the JVM and the
    Python workers are children, not yet reaped)."""
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()))


def rss_by_role(jvm_pid: int) -> dict[str, float]:
    """RSS MB of the whole process tree, of the driver JVM, and of the
    JVM's descendants: the Python worker daemon and its workers."""
    table = _proc_table()
    jvm = [jvm_pid] if jvm_pid in table else []
    workers = _descendants(table, jvm_pid)[1:] if jvm else []

    def mb(pids: list[int]) -> float:
        return sum(table[p][2] for p in pids) / 1e6

    return {"tree": mb(_descendants(table, os.getpid())), "jvm": mb(jvm),
            "python": mb(workers)}


class RssSampler:
    """Background thread keeping the peak RSS of each role of
    ``rss_by_role`` since reset()."""

    INTERVAL_S = 0.2

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = rss_by_role(self.jvm_pid)

    def take(self) -> dict[str, float]:
        """Peaks since the last reset, including the current reading."""
        self._update()
        with self._lock:
            return dict(self.peak_mb)

    def _update(self) -> None:
        now = rss_by_role(self.jvm_pid)
        with self._lock:
            self.peak_mb = {k: max(v, self.peak_mb.get(k, 0.0))
                            for k, v in now.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._update()


class Jvm:
    """Cumulative JIT compile and GC milliseconds of the driver JVM."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def times_ms(self) -> tuple[float, float]:
        return (float(self._comp.getTotalCompilationTime()),
                float(sum(b.getCollectionTime() for b in self._gcs)))


_COUNTERS = ("jobs", "stages", "tasks", "run_ms", "shuffle_write_b",
             "shuffle_read_b", "spill_b")


class Tracer:
    """In-memory spans. Disabled tracers cost one attribute check per
    span. Each span runs its Spark jobs under its own job group, so a
    job is attributed to the innermost open span."""

    def __init__(self, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._spark = None
        self._jvm = None

    def attach(self, spark) -> None:
        """Bind to the session once it exists (spans opened before it,
        such as input staging and get_spark itself, carry no counters)."""
        self._spark = spark
        if self.enabled:
            self._jvm = Jvm(spark)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent":
               self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        gid = f"pb-{self.run_id}-{sid}"
        sc = self._spark.sparkContext if self._spark is not None else None
        if sc is not None:
            sc.setJobGroup(gid, name)
        jit0, gc0 = self._jvm.times_ms() if self._jvm else (0.0, 0.0)
        self._stack.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._jvm:
                jit1, gc1 = self._jvm.times_ms()
                rec["jit_ms"], rec["gc_ms"] = jit1 - jit0, gc1 - gc0
            if sc is not None:
                rec.update(self._group_counters(sc, gid))
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"pb-{self.run_id}-{parent['id']}",
                                   parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setJobDescription(None)

    def _group_counters(self, sc, gid: str) -> dict:
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        c = dict.fromkeys(_COUNTERS, 0)
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted or never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["run_ms"] += sd.executorRunTime()
                c["shuffle_write_b"] += sd.shuffleWriteBytes()
                c["shuffle_read_b"] += sd.shuffleReadBytes()
                c["spill_b"] += sd.diskBytesSpilled()
        return c

    def dump(self) -> list[dict]:
        """Spans with durations and self times (duration minus the part
        covered by direct children; children never overlap: one thread)."""
        kids: dict = {}
        for s in self.spans:
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [{**s, "dur_s": s["end"] - s["start"],
                 "self_s": s["end"] - s["start"] - kids.get(s["id"], 0.0)}
                for s in self.spans]


def patch(tracer: Tracer, owner, attr: str, span_name) -> None:
    """Replace ``owner.attr`` with a wrapper that opens a span per call.
    ``span_name`` is a string or a callable of the call's arguments."""
    fn = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        name = span_name(*args, **kwargs) if callable(span_name) else span_name
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    setattr(owner, attr, wrapper)
