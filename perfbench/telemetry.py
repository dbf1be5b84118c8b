"""Measurement helpers: percentiles, layer spans, host CPU and process-tree RSS.

Everything here observes the engine from outside: spans are recorded by
wrapping public layer functions from the benchmark (``LayerTracer``), host
load comes from ``/proc/stat`` and memory from ``/proc/<pid>/smaps_rollup``.
"""

from __future__ import annotations

import functools
import os
import threading
import time


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has at
    least ten samples beyond it; with fewer than 21 samples, the median."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    beyond = 10
    if n - beyond - 1 < n // 2:
        return 50.0, median(xs)
    xs = sorted(xs)
    idx = n - beyond - 1
    return round(100.0 * (idx + 1) / n, 1), xs[idx]


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``: live, superseded or staged."""
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Wall time (ms) covered by at least one interval (seconds in)."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total * 1000.0


# --- time budgets of the traced run ----------------------------------------
#
# Each check sums durations without merging overlaps, so a layer that is
# called nested, concurrently or outside the window it is charged to can
# push its share past 1; the run then exits with status 2.


def layer_sum_share(spans, wall_ms: float) -> float:
    """Largest share of ``wall_ms`` taken by one layer's summed calls."""
    sums: dict[str, float] = {}
    for name, a, b, _ in spans:
        sums[name] = sums.get(name, 0.0) + (b - a) * 1000.0
    return max(sums.values(), default=0.0) / wall_ms


def call_sum_share(spans, call_ms: dict[int, float], layers) -> float:
    """Largest share of one timed call's latency taken by the summed spans
    of ``layers`` (name prefixes) recorded under that call's request id."""
    sums: dict[int, float] = {}
    for name, a, b, req in spans:
        if req in call_ms and name.startswith(tuple(layers)):
            sums[req] = sums.get(req, 0.0) + (b - a) * 1000.0
    return max((ms / call_ms[req] for req, ms in sums.items()
                if call_ms[req] > 0), default=0.0)


def slot_share(task_ms: float, job_intervals_ms, slots: int) -> float:
    """Summed per-task time of a job group (executor run time, Python
    worker time) as a share of what ``slots`` task slots could run while
    the group's jobs ran; 1 ms of slack per job for ms rounding."""
    wall = union_ms([(a / 1000.0, b / 1000.0) for a, b in job_intervals_ms])
    cap = slots * (wall + len(job_intervals_ms))
    return task_ms / cap if cap > 0 else (float("inf") if task_ms else 0.0)


# --- host and memory ------------------------------------------------------


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    return total, total - idle - steal, steal


def host_shares(before, after) -> dict[str, float]:
    total = max(1, after[0] - before[0])
    return {"busy_pct": 100.0 * (after[1] - before[1]) / total,
            "steal_pct": 100.0 * (after[2] - before[2]) / total}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the process tree: a page shared by forked
    Python workers counts once in total, not once per worker."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_write_bytes(root: int) -> int:
    """Bytes the process tree has sent to the storage layer so far."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


class MemorySampler:
    """Polls the memory of this process and all its descendants (the JVM
    and the Python workers) on a background thread; ``peak`` is the
    maximum."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# --- layer spans ------------------------------------------------------------


class LayerTracer:
    """Wraps public layer functions so each call records a span
    ``(layer, start, end, request)``. Spans stay in memory; ``dump`` returns
    them for writing out when the run ends.

    ``enabled=False`` leaves every function untouched, so the untraced run
    measures the engine as shipped."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int]] = []
        self.request = 0
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def wrap(self, owner, attr: str, layer: str) -> None:
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                span = (layer, t0, time.monotonic(), self.request)
                with self._lock:
                    self.spans.append(span)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until ``restore``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def durations_ms(self, layer: str) -> list[float]:
        return [(b - a) * 1000.0 for name, a, b, _ in self.spans
                if name == layer]

    def busy_ms(self, layer: str) -> float:
        """Wall time during which at least one call of ``layer`` ran."""
        return union_ms([(a, b) for name, a, b, _ in self.spans
                         if name == layer])

    def dump(self, origin: float) -> list[dict]:
        return [{"layer": n, "start_s": round(a - origin, 6),
                 "end_s": round(b - origin, 6), "request": r}
                for n, a, b, r in self.spans]
