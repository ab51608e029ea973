"""The benchmark's own arithmetic, kept free of Spark so it is unit-tested
without a session: percentiles, span self time, idle cores, the Spark UI's
metric strings and the ``/proc`` walk over the Python-worker trees."""

from __future__ import annotations

import math
import os
import re
import threading
import time
from dataclasses import dataclass, field

#: A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct * len(ordered) / 100.0))
    return ordered[rank - 1]


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[int, int]:
    """The highest whole percentile whose nearest-rank sample still has
    ``min_beyond`` samples above it, as ``(percentile, samples_beyond)``.

    Below ``2 * min_beyond`` samples no percentile above the median
    qualifies; the median is returned with the (smaller) count beyond it,
    so the caller records how thin the tail estimate is."""
    if n < 1:
        raise ValueError("tail of no samples")
    for pct in range(99, 49, -1):
        beyond = n - max(1, math.ceil(pct * n / 100.0))
        if beyond >= min_beyond:
            return pct, beyond
    return 50, n - max(1, math.ceil(50 * n / 100.0))


def latency_summary(samples: list[float]) -> dict:
    """p50 and the tail percentile of op latencies, with sample counts."""
    pct, beyond = tail_percentile(len(samples))
    return {
        "p50": percentile(samples, 50),
        "tail": percentile(samples, pct),
        "tail_percentile": pct,
        "tail_samples_beyond": beyond,
        "samples": len(samples),
    }


def idle_core_s(cores: int, exec_wall_s: float, task_run_s: float) -> float:
    """Core-seconds the executor had and did not use while an op ran:
    ``cores * wall - task time``. Skewed or serial stages leave cores idle.
    Never negative (task clocks and the wall clock are read separately)."""
    return max(0.0, cores * exec_wall_s - task_run_s)


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    sid: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans with a per-thread parent stack.

    A span opened on a thread with an empty stack (a runner pool thread)
    takes the tracer's current root span as its parent, so models that
    run concurrently still hang under the batch that started them."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span: Span | None = None
        self._t0 = 0.0
        #: wall time of the block, measured whether or not tracing is on
        self.duration = 0.0

    @property
    def sid(self) -> int | None:
        return None if self.span is None else self.span.sid

    def __enter__(self):
        tr = self.tracer
        self._t0 = time.perf_counter()
        if not tr.enabled:
            return self
        st = tr._stack()
        parent = st[-1] if st else tr.root
        with tr._lock:
            sid = len(tr.spans)
            self.span = Span(self.name, time.perf_counter(), parent=parent, sid=sid,
                             attrs=dict(self.attrs))
            tr.spans.append(self.span)
        st.append(sid)
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.duration = end - self._t0
        if self.span is not None:
            self.span.end = end
            self.tracer._stack().pop()
        return False


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval covered by its children (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


# -- Spark UI metric strings -------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_ui_metric(text: str) -> float:
    """The total of a SQL-node metric as the UI renders it: either a bare
    value (``"0 ms"``, ``"12.5 KiB"``, ``"1,024"``) or the multi-task form
    ``"total (min, med, max ...)\\n12.5 KiB (...)"``. Sizes come back in
    bytes, times in seconds, counts as numbers."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE.search(line)
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


# -- /proc -------------------------------------------------------------------

_WORKER_MARKS = (b"pyspark.daemon", b"pyspark.worker", b"pyspark_zipfast_daemon")


def is_worker_root(cmdline: bytes) -> bool:
    """A Python process whose argv names a PySpark daemon or worker
    module. The daemon module name also appears in the JVM's argv (as a
    conf value), so argv[0] must be a python interpreter."""
    exe = os.path.basename(cmdline.split(b"\x00", 1)[0])
    return exe.startswith(b"python") and any(m in cmdline for m in _WORKER_MARKS)


def worker_tree(ppid: dict[int, int], roots: set[int]) -> set[int]:
    """The roots and every process descended from them."""
    tree = set(roots)
    kids: dict[int, list[int]] = {}
    for pid, pp in ppid.items():
        kids.setdefault(pp, []).append(pid)
    todo = list(roots)
    while todo:
        for child in kids.get(todo.pop(), []):
            if child not in tree:
                tree.add(child)
                todo.append(child)
    return tree


def _read_status_rss_kb(proc_root: str, pid: str) -> int:
    with open(os.path.join(proc_root, pid, "status"), "rb") as f:
        for line in f:
            if line.startswith(b"VmRSS:"):
                return int(line.split()[1])
    return 0  # kernel threads and zombies have no VmRSS line


def scan_rss_mb(jvm_pid: int | None, proc_root: str = "/proc") -> float:
    """Resident memory of the JVM plus every PySpark worker tree, in MiB."""
    ppid: dict[int, int] = {}
    roots: set[int] = set()
    rss: dict[int, int] = {}
    for ent in os.listdir(proc_root):
        if not ent.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, ent, "cmdline"), "rb") as f:
                cmd = f.read()
            with open(os.path.join(proc_root, ent, "stat"), "rb") as f:
                raw = f.read()
            kb = _read_status_rss_kb(proc_root, ent)
        except (OSError, ValueError):
            continue  # exited mid-scan
        pid = int(ent)
        # comm may hold spaces and parens: fields resume after the last ')'
        ppid[pid] = int(raw[raw.rindex(b")") + 2 :].split()[1])
        rss[pid] = kb
        if is_worker_root(cmd):
            roots.add(pid)
    members = worker_tree(ppid, roots)
    if jvm_pid is not None:
        members.add(jvm_pid)
    return sum(rss.get(p, 0) for p in members) / 1024.0


class RssSampler:
    """Samples :func:`scan_rss_mb` on a background thread; ``peak_mb`` is
    the largest sample. A failed scan is kept in ``error`` and ends the
    sampling, so a missing figure is reported, never a low one."""

    def __init__(self, jvm_pid: int | None, interval_s: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.error: str | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                self.peak_mb = max(self.peak_mb, scan_rss_mb(self.jvm_pid))
            except (OSError, ValueError) as exc:
                self.error = f"/proc scan failed: {exc}"
                return
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
