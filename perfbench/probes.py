"""Outside-in probes: process-tree CPU and memory from ``/proc``, Spark
job and stage counts from the public status tracker, JVM GC time from
the GC MXBeans, streaming progress from a ``StreamingQueryListener``,
and a span tracer that wraps the engine's public functions.

Nothing here edits the engine: every probe reads a public interface or
replaces a module attribute from outside, so the same benchmark runs
unchanged against any revision of ``recommend_spark``.
"""

from __future__ import annotations

import itertools
import os
import re
import statistics
import sys
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- process tree -------------------------------------------------------------


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, with each page
    shared by n processes counted 1/n times (forked Python workers share
    most of their pages with the daemon they were forked from)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _jvm_heap_range(log: str) -> tuple[int, int] | None:
    """Address range of a JVM's Java heap, from the ``gc+heap+coops`` line
    the JVM writes to ``log`` at start (see ``common.configure_env``)."""
    try:
        with open(log) as fh:
            m = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB", fh.read())
    except OSError:
        return None
    if m is None:
        return None
    lo = int(m.group(1), 16)
    return lo, lo + int(m.group(2)) * 2**20


def _rss_outside(pid: int, lo: int, hi: int) -> int:
    """Resident bytes of ``pid``'s mappings that lie outside ``[lo, hi)``."""
    total, inside = 0, False
    try:
        with open(f"/proc/{pid}/smaps") as fh:
            for line in fh:
                if line[0] in "0123456789abcdef":  # a mapping's header line
                    a, b = line.split(" ", 1)[0].split("-")
                    inside = lo <= int(a, 16) and int(b, 16) <= hi
                elif not inside and line.startswith("Rss:"):
                    total += int(line.split()[1]) * 1024
    except OSError:
        pass
    return total


def _stat(pid: int):
    """(ppid, own cpu s, reaped-children cpu s, rss bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14 ... rss=21 (pages)
    own = (int(f[11]) + int(f[12])) / _TICK
    kids = (int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), own, kids, int(f[21]) * _PAGE, comm


def process_start_time() -> float:
    """Wall-clock (``time.time``) instant this process was started."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def descendants(root: int) -> list[int]:
    """Every live descendant pid of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[st[0]].append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcTree:
    """Samples the process tree under ``root`` on a background thread.

    Each pid is classed once: ``root`` (and any Python process that is
    not below the JVM) is ``driver_py``; a ``java`` process is ``jvm``;
    a process below the JVM is ``pyworker``.  A worker's CPU includes
    its reaped children (Spark's Python daemon forks the workers and
    reaps them), so work done by short-lived workers is not lost.

    Memory is sampled two ways.  ``peak_rss`` is the tree's summed
    resident set.  ``peak_mem`` counts what the program itself holds
    outside the Java heap: the JVM's resident pages outside its heap
    mapping (metaspace, code cache, thread stacks, direct buffers) plus
    the proportional set size (PSS) of every Python process, so pages
    that forked Python workers share are counted once.  The heap itself
    is measured by ``SparkProbe.heap_peaks``, because its resident
    pages show when the collector grew the heap, not how much it used.
    ``heap_log`` maps a JVM pid to the file its heap address is logged in."""

    def __init__(self, root: int, heap_log=None, period: float = 1.0):
        self.root, self.period, self.heap_log = root, period, heap_log
        self.cls: dict[int, str] = {}
        self.cpu: dict[int, float] = {}
        self.heap: dict[int, tuple[int, int] | None] = {}
        self.peak_mem = self.peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcTree":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def reset_peaks(self) -> None:
        """Start a new memory window at the current sample."""
        with self._lock:
            self.peak_mem = self.peak_rss = 0
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def _jvm_mem(self, pid: int) -> int:
        """Resident bytes outside the heap; 0 until the heap is logged."""
        if self.heap.get(pid) is None and self.heap_log is not None:
            self.heap[pid] = _jvm_heap_range(self.heap_log(pid))
        rng = self.heap.get(pid)
        return _rss_outside(pid, *rng) if rng else 0

    def check_heap_logged(self) -> None:
        """Raise unless every live JVM logged its heap address, so that no
        JVM's memory went uncounted.  (The short-lived JVM that
        ``spark-submit`` runs to build the driver's command line logs none
        and has exited by the time this is called.)"""
        missing = [
            p
            for p, c in self.cls.items()
            if c == "jvm" and not self.heap.get(p) and os.path.exists(f"/proc/{p}")
        ]
        if missing:
            raise RuntimeError(f"no heap address logged for JVM(s) {missing}")

    def sample(self) -> None:
        pids = [self.root] + descendants(self.root)
        mem = rss_sum = 0
        with self._lock:
            for pid in pids:
                st = _stat(pid)
                if st is None:
                    continue
                ppid, own, kids, rss, comm = st
                if comm == "java" and self.cls.get(pid) == "driver_py" and pid != self.root:
                    del self.cls[pid]  # a launcher script that has exec'd the JVM
                if pid not in self.cls:
                    parent = self.cls.get(ppid)
                    if comm == "java":
                        self.cls[pid] = "jvm"
                    elif parent in ("jvm", "pyworker"):
                        self.cls[pid] = "pyworker"
                    else:
                        self.cls[pid] = "driver_py"
                c = self.cls[pid]
                self.cpu[pid] = own + (kids if c == "pyworker" else 0.0)
                rss_sum += rss
                mem += self._jvm_mem(pid) if c == "jvm" else _pss(pid)
            self.peak_mem = max(self.peak_mem, mem)
            self.peak_rss = max(self.peak_rss, rss_sum)

    def snapshot(self) -> dict[int, float]:
        self.sample()
        with self._lock:
            return dict(self.cpu)

    def cpu_split(self, since: dict[int, float]) -> dict[str, float]:
        """CPU seconds per class since the ``since`` snapshot."""
        now = self.snapshot()
        out = {"jvm": 0.0, "pyworker": 0.0, "driver_py": 0.0}
        with self._lock:
            for pid, v in now.items():
                out[self.cls[pid]] += max(0.0, v - since.get(pid, 0.0))
        return out


# -- Spark status ---------------------------------------------------------------


class SparkProbe:
    """Job windows, task counts, GC time and streaming progress.

    Jobs are attributed by submission window: job ids are sequential per
    SparkContext, so the jobs of a window are the ids between the next
    unused id at its start and at its end.  Streaming queries set their
    own job group, which is why groups are not used.  The status store
    is fed asynchronously; ``settle`` drains the listener bus first when
    the JVM exposes it, so a job finished inside a window is counted in
    that window."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._spark = spark
        self._next = 0
        self._listener = None
        self.batches: list[tuple[float, int]] = []  # (durationMs, state rows)

    def listen(self) -> None:
        """Record every streaming micro-batch's progress from now on."""
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rows = sum(s.numRowsTotal for s in p.stateOperators)
                probe.batches.append(
                    (float(p.durationMs.get("triggerExecution", 0)), int(rows))
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self._spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is None:
            return
        try:
            self._spark.streams.removeListener(self._listener)
        except Exception:  # noqa: BLE001 — session already stopped
            pass

    def settle(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — private hook missing: best effort
            pass

    def next_job(self) -> int:
        self.settle()
        i = self._next
        while self.tracker.getJobInfo(i) is not None:
            i += 1
        self._next = i
        return i

    def tasks(self, first: int, end: int) -> tuple[int, int]:
        """(tasks, failed tasks) over the stages of jobs ``first..end-1``."""
        n = failed = 0
        for j in range(first, end):
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = self.tracker.getStageInfo(s)
                if si is not None:
                    n += si.numTasks
                    failed += si.numFailedTasks
        return n, failed

    def gc_s(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def heap_mb(self) -> float:
        return self.sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20

    def _heap_pools(self):
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peaks(self) -> dict[str, int]:
        """Each heap pool's (eden, survivor, old) peak use in bytes since
        ``reset_heap_peak``, read from the memory-pool MXBeans."""
        return {p.getName(): p.getPeakUsage().getUsed() for p in self._heap_pools()}


# -- spans ----------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id) plus per-span
    Spark job windows.  ``on`` switches recording without unwrapping, so
    one run can alternate traced and untraced passes."""

    def __init__(self, probe: SparkProbe | None = None):
        self.probe = probe
        self.spans: list[dict] = []
        self._ids = itertools.count()  # spans may open on several threads
        self.on = False
        self.op = None
        self.overhead_s = 0.0
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn, *args, **kwargs):
        if not self.on:
            return fn(*args, **kwargs)
        t_in = time.perf_counter()
        stack = self._stack()
        rec = {
            "name": name,
            "op": self.op,
            "parent": stack[-1]["id"] if stack else None,
            "id": next(self._ids),
        }
        self.spans.append(rec)
        if self.probe is not None:
            rec["job0"] = self.probe.next_job()
        stack.append(rec)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec["start"], rec["end"] = t0, t1
            if self.probe is not None:
                rec["job1"] = self.probe.next_job()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str, also_in=()) -> None:
        """Replace ``owner.attr`` with a spanned wrapper.  A function
        imported by name elsewhere (``from ..io import load_table``) is a
        separate binding; every module in ``also_in`` that binds the same
        object gets the wrapper too."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer.span(name, orig, *args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        for mod in also_in:
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and "end" in s:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if "end" not in s:
            continue
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
            cur_end = max(cur_end, b)
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def engine_modules() -> list:
    """Every loaded ``recommend_spark`` module (for rebinding wrappers)."""
    return [m for n, m in sorted(sys.modules.items()) if n.startswith("recommend_spark") and m]


# -- statistics -----------------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond: int = 10):
    """(value, percentile, n): the highest percentile of ``xs`` with at
    least ``beyond`` samples above it; (None, None, n) when ``xs`` is too
    short to have one."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        return None, None, n
    k = n - beyond - 1
    return xs[k], round(100.0 * (k + 1) / n, 1), n
