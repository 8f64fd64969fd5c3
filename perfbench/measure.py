"""Measurement helpers with no Spark dependency: percentiles, drift
halves, spans and self time, store file snapshots, memory preflight,
process memory and the CPU calibration stamp."""

from __future__ import annotations

import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

MIN_TAIL_SAMPLES = 10


# -- latency statistics ----------------------------------------------
def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of n."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None unless at least
    MIN_TAIL_SAMPLES samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[math.ceil(q * n) - 1]


def drift_halves(values: list[float], bound: float) -> dict:
    """Medians of the first and second half of a timed window, and
    whether they differ by more than ``bound`` (a share of the first)."""
    if len(values) < 2:
        return {"first_half": None, "second_half": None, "drift": None, "flagged": False}
    h = len(values) // 2
    a, b = statistics.median(values[:h]), statistics.median(values[-h:])
    drift = (b - a) / a if a else 0.0
    return {"first_half": a, "second_half": b, "drift": drift, "flagged": abs(drift) > bound}


def spread(values: list[float]) -> dict:
    """Median, min, max and quartile distance of a per-op count."""
    if not values:
        return {"median": 0, "min": 0, "max": 0, "iqr": 0}
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "min": min(values),
            "max": max(values), "iqr": q[2] - q[0]}


def error_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


class OpLog:
    """Attempted and failed ops. An op fails when it raises, a failed
    correctness check included; the failure is recorded, not raised."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def attempt(self, label: str, fn) -> bool:
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as e:  # the op boundary: count and keep going
            self.failed += 1
            self.failures.append(f"{label}: {type(e).__name__}: {e}"[:400])
            return False

    @property
    def error_ratio(self) -> float:
        return error_ratio(self.failed, self.attempted)


# -- spans -------------------------------------------------------------
class Tracer:
    """In-memory spans: [name, start, end, parent index, op id]."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def per_op(self, name: str, ops: list[int], self_time: bool = True) -> list[float]:
        """Per-op sum of the span's self (or total) seconds."""
        selfs = self_times(self.spans)
        tot = {op: 0.0 for op in ops}
        for i, (n, start, end, _, op) in enumerate(self.spans):
            if n == name and op in tot:
                tot[op] += selfs[i] if self_time else end - start
        return [tot[op] for op in ops]

    def count_per_op(self, name: str, ops: list[int]) -> list[int]:
        cnt = {op: 0 for op in ops}
        for n, _, _, _, op in self.spans:
            if n == name and op in cnt:
                cnt[op] += 1
        return [cnt[op] for op in ops]


def self_times(spans: list[list]) -> list[float]:
    """Duration of each span minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for name, start, end, parent, _ in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    out = []
    for i, (_, start, end, _, _) in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, start), min(hi, end)
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
        out.append((end - start) - covered)
    return out


# -- store files -------------------------------------------------------
def snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every regular file under the roots."""
    snap = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new, or changed, in ``after``."""
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def data_files(root: str) -> int:
    return sum(1 for p in snapshot(root) if p.endswith(".parquet"))


# -- memory ------------------------------------------------------------
def parse_mem(spec: str) -> int:
    """JVM-style memory size ('2g', '1536m', '512k', '1024') in bytes."""
    s = spec.strip().lower().rstrip("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def mem_total() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def preflight(heap_bytes: int, total_bytes: int) -> tuple[bool, int]:
    """(fits, needed): the driver heap plus JVM off-heap overhead (Spark's
    own rule: max(384 MiB, 10% of heap)) plus 512 MiB for Python."""
    needed = heap_bytes + max(384 << 20, heap_bytes // 10) + (512 << 20)
    return needed <= total_bytes, needed


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# -- machine-window stamp ---------------------------------------------
def cpu_stamp(threads: int) -> dict:
    """Fixed CPU work, single-thread and on ``threads`` threads; recorded
    beside each run, never used to adjust a metric."""
    import numpy as np

    def st() -> None:
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 1315423911 + i) & 0xFFFFFFFFFFFF

    a = np.random.default_rng(7).standard_normal((192, 192))

    def mt(_) -> None:
        x = a
        for _ in range(100):
            x = np.tanh(x @ a / 192.0)

    t0 = time.perf_counter()
    st()
    t1 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as ex:
        list(ex.map(mt, range(threads)))
    t2 = time.perf_counter()
    return {"st_ms": (t1 - t0) * 1000, "mt_ms": (t2 - t1) * 1000}
