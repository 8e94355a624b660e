"""Spans around layer calls, with Spark work attributed to each span.

Every span runs its Spark jobs under a job group of its own. At the end
of a run the jobs of each group are resolved through
``SparkStatusTracker`` and the JVM status store (reached over py4j, so
it works with the UI disabled) into stages, tasks, executor time and
bytes. Jobs that start during a span but carry no group — launched from
helper threads, which do not inherit the caller's job group — are the
span's *escaped* jobs. With ``enabled=False`` no span records and no
job group is set, so untraced runs time the program alone.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    "task_s": "executorRunTime",  # milliseconds in the store
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    job_ids: list[int] = field(default_factory=list)
    escaped_ids: list[int] = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    in_op: bool = False  # opened inside a span named "op"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._claimed: set[int] = set()
        self.bookkeeping_s = 0.0  # driver time spent opening and closing spans

    def _ungrouped(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        sp = Span(name, self._stack[-1] if self._stack else None, 0.0,
                  group=f"perfbench-{os.getpid()}-{idx}")
        sp.in_op = any(self.spans[i].name == "op" for i in self._stack)
        self.spans.append(sp)
        before = self._ungrouped()
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.job_ids = sorted(self.tracker.getJobIdsForGroup(sp.group))
            # innermost span first: children close before their parent
            escaped = self._ungrouped() - before - self._claimed
            self._claimed |= escaped
            sp.escaped_ids = sorted(escaped)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def wrap(self, module, attr: str, name: str, on_result=None):
        """Replace ``module.attr`` by a spanned wrapper; returns an
        undo callable. ``on_result(span, args, kwargs, result)`` may add
        counts to the span."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                result = original(*args, **kwargs)
                if sp is not None and on_result is not None:
                    on_result(sp, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, original)

    def resolve(self) -> None:
        """Fill each span's ``counts`` from the status store: jobs,
        stages run and skipped, tasks, executor seconds and bytes."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older/newer JVM API; counts may lag
            pass
        store = jsc.statusStore()
        stage_cache: dict[int, dict] = {}
        for sp in self.spans:
            counts = {"jobs": 0, "jobs_escaped": len(sp.escaped_ids), "stages": 0,
                      "stages_skipped": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
            for jid in sp.job_ids + sp.escaped_ids:
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                if jid in sp.job_ids:
                    counts["jobs"] += 1
                for sid in info.stageIds:
                    st = stage_cache.get(sid)
                    if st is None:
                        st = stage_cache[sid] = _stage(store, sid)
                    if st is None:
                        continue
                    if st["skipped"]:
                        counts["stages_skipped"] += 1
                        continue
                    counts["stages"] += 1
                    counts["tasks"] += st["tasks"]
                    for k in STAGE_FIELDS:
                        counts[k] += st[k]
            counts["task_s"] /= 1000.0
            sp.counts = counts


def _stage(store, sid: int) -> dict | None:
    try:
        data = store.lastStageAttempt(sid)
    except Exception:  # noqa: BLE001 - stage evicted from the store
        return None
    out = {"skipped": str(data.status().toString()) == "SKIPPED",
           "tasks": int(data.numCompleteTasks())}
    for k, getter in STAGE_FIELDS.items():
        out[k] = int(getattr(data, getter)())
    return out


def totals(spans: list[Span], prefix: str, within: str | None = "op") -> dict:
    """Counts of the spans named ``prefix...`` that sit inside a span
    named ``within`` (anywhere when None), each summed with everything nested in it except
    spans named ``trace...`` (the tracer's own extra work); wall time of
    the outermost matching spans."""
    children: dict[int | None, list[int]] = {}
    for i, sp in enumerate(spans):
        children.setdefault(sp.parent, []).append(i)

    def ancestors(i: int):
        p = spans[i].parent
        while p is not None:
            yield p
            p = spans[p].parent

    chosen = {i for i, sp in enumerate(spans) if sp.name.startswith(prefix)
              and (within is None or any(spans[a].name == within for a in ancestors(i)))}
    out: dict = {"wall_s": 0.0, "n": 0}
    for i in sorted(chosen):
        if any(a in chosen for a in ancestors(i)):
            continue  # nested in a matching span: counted with it
        out["wall_s"] += spans[i].wall_s
        out["n"] += 1
        todo = [i]
        while todo:
            j = todo.pop()
            if spans[j].name.startswith("trace."):
                continue
            for k, v in spans[j].counts.items():
                out[k] = out.get(k, 0) + v
            todo.extend(children.get(j, []))
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled from /proc. Python
    processes count their proportional set size: a forked Python worker
    shares most of its pages with the process it was forked from, and a
    shared page counts once in the total, not once per process. The JVM
    shares none, and its resident size is cheaper to read. At the same
    times, the CPU ticks of each JIT compiler thread of the JVM (which
    may exit when idle, so each is kept as last seen)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._jit_ticks: dict[tuple[int, int], int] = {}
        self._comms: dict[tuple[int, int], str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        pids = _tree(os.getpid())
        total = sum(_pss(pid) if _read(f"/proc/{pid}/comm").startswith("python") else _rss(pid)
                    for pid in pids)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, total)
            for pid in pids:
                try:
                    tids = [int(t) for t in os.listdir(f"/proc/{pid}/task")]
                except OSError:
                    continue
                for tid in tids:
                    key = (pid, tid)
                    if key not in self._comms:
                        self._comms[key] = _read(f"/proc/{pid}/task/{tid}/comm")
                    if self._comms[key].startswith(JIT_THREADS):
                        stat = _read(f"/proc/{pid}/task/{tid}/stat")
                        if stat:
                            fields = stat[stat.rindex(")") + 2:].split()
                            self._jit_ticks[key] = int(fields[11]) + int(fields[12])

    def jit_seconds(self) -> float:
        """CPU seconds the JIT compiler threads have used so far."""
        self.sample()
        with self._lock:
            return sum(self._jit_ticks.values()) / os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User and system CPU seconds of this process and its descendants,
    including descendants that have exited and been waited for."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def settle(timeout_s: float = 10.0, idle_cores: float = 0.1) -> float:
    """Wait until this process and its descendants use less than
    ``idle_cores`` of a core over half a second — the JIT compilation and
    concurrent GC that the work so far queued in the JVM are done — and
    return their CPU seconds at that point (when ``timeout_s`` runs out,
    at that point)."""
    last = cpu_seconds()
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        time.sleep(0.5)
        now = cpu_seconds()
        if now - last < 0.5 * idle_cores:
            return now
        last = now
    return last


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _rss(pid: int) -> int:
    fields = _read(f"/proc/{pid}/statm").split()
    return int(fields[1]) * os.sysconf("SC_PAGE_SIZE") if len(fields) > 1 else 0


def _pss(pid: int) -> int:
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1]) * 1024
    return 0
