"""Measurement from outside the program: process-tree CPU and memory
from /proc, Spark stage metrics from the status store, and spans.

Nothing here imports dedup_spark; the workloads call into the program
and use these helpers around each call.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- stats


def median(xs) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return float(s[m]) if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def quartile_spread(xs) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives
    them — the spread the steadiness check uses."""
    import statistics

    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the comm: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21, pages)
        cpu = sum(int(v) for v in rest[11:15]) / _HZ
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    found, stack = [], [root]
    while stack:
        pid = stack.pop()
        found.append(pid)
        stack.extend(kids.get(pid, ()))
    return found


def _read_bytes(pid: int) -> int:
    """Bytes the process read through read(2)-family calls (rchar):
    files and sockets alike."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class TreeSample:
    cpu_s: float  # whole tree: this process, the JVM, Python workers
    python_cpu_s: float  # JVM descendants only: pyspark.daemon + workers
    jvm_read_bytes: int


def sample_tree(jvm_pid: int | None) -> TreeSample:
    """CPU of this process and every live descendant. A live process's
    reaped children are in its cutime/cstime, so Python workers that
    already exited still count through their daemon."""
    table = _proc_table()
    cpu = sum(table[p][1] for p in _descendants(table, os.getpid()))
    py, jvm_read = 0.0, 0
    if jvm_pid is not None and jvm_pid in table:
        py = sum(table[p][1] for p in _descendants(table, jvm_pid) if p != jvm_pid)
        jvm_read = _read_bytes(jvm_pid)
    return TreeSample(cpu, py, jvm_read)


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs (the steal column of /proc/stat). Wall-clock metrics
    drift with it; runs print it so a noisy host is visible."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


def live_descendants() -> list[int]:
    table = _proc_table()
    return [p for p in _descendants(table, os.getpid()) if p != os.getpid()]


class RssSampler:
    """Background thread summing the tree's RSS every ``interval``
    seconds; ``take_peak()`` returns the peak since the last call."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            table = _proc_table()
            rss = sum(table[p][2] for p in _descendants(table, os.getpid()))
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak


# ---------------------------------------------------------------- Spark

# Stage inputBytes is left out: the Parquet reader fetches column chunks
# off the task thread, so it counts little more than the footers (19 kB
# for a 1.66 MB table). Spans measure the JVM's read bytes instead.
STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def wait_for_listeners(sc) -> None:
    """Block until the status store has seen every event so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_metrics(sc, group: str) -> dict[str, float]:
    """Stage metrics summed over every job tagged with ``group`` via
    ``sc.setJobGroup``. Reads the status store, which the listener bus
    fills even with the UI disabled. Skipped stages (shuffle reuse)
    count in ``stages_skipped``, not ``stages``."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(("jobs", "stages", "stages_skipped", "tasks", *STAGE_FIELDS), 0.0)
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    seen = set()
    for jid in job_ids:
        out["jobs"] += 1
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted: skipped
                out["stages_skipped"] += 1
                continue
            if st.status().toString() != "COMPLETE":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def release_blocks(sc) -> None:
    """Unpersist every persisted RDD — including the blocks behind
    localCheckpoint — so one pass does not pay for the previous one's
    storage."""
    rdds = sc._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet()):
        rdds.get(rid).unpersist(True)
    sc._jvm.System.gc()


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    python_cpu_s: float = 0.0
    jvm_read_bytes: int = 0
    spark: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s


class Tracer:
    """Spans around calls into the program. Each span gets its own
    Spark job group, so its jobs' stage metrics can be read back after
    the traced pass (reading them inside would bill the reads to it)."""

    def __init__(self, sc, jvm_pid: int | None, trace_id: str):
        self.sc = sc
        self.jvm_pid = jvm_pid
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{self.trace_id}:{len(self.spans)}:{name}"
        sp = Span(name, parent.name if parent else None, group, time.monotonic())
        self.spans.append(sp)
        self._stack.append(sp)
        s0 = sample_tree(self.jvm_pid)
        self.sc.setJobGroup(group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            s1 = sample_tree(self.jvm_pid)
            sp.python_cpu_s = s1.python_cpu_s - s0.python_cpu_s
            sp.jvm_read_bytes = s1.jvm_read_bytes - s0.jvm_read_bytes
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.wall_s
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def collect_spark(self) -> None:
        wait_for_listeners(self.sc)
        for sp in self.spans:
            sp.spark = group_metrics(self.sc, sp.group)

    def total(self, prefix: str, attr: str = "self_s") -> float:
        """Sum of ``attr`` over spans whose name is ``prefix`` or starts
        with ``prefix.``."""
        return sum(
            getattr(sp, attr)
            for sp in self.spans
            if sp.name == prefix or sp.name.startswith(prefix + ".")
        )

    def rows(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "parent": sp.parent,
                "wall_s": sp.wall_s,
                "self_s": sp.self_s,
                "python_cpu_s": sp.python_cpu_s,
                "jvm_read_bytes": sp.jvm_read_bytes,
                **sp.spark,
            }
            for sp in self.spans
        ]
