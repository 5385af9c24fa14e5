"""Pure helpers the workloads share: percentiles with the sample-count rule,
open-loop lateness, freshness attribution from micro-batch progress, a span
recorder, and a process-tree RSS sampler. No Spark import here, so the unit
tests run without a JVM."""

from __future__ import annotations

import bisect
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Iterable, Optional, Sequence

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that one outlier moves it.
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``p`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int, wanted: float,
                   candidates: Iterable[float] = (99.9, 99, 95, 90, 75, 50)
                   ) -> Optional[float]:
    """Highest percentile ``<= wanted`` with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the median is unsupported."""
    for p in sorted(candidates, reverse=True):
        if p <= wanted and n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def lateness(due: Sequence[float], actual: Sequence[float]) -> list[float]:
    """Per-operation lateness of an open-loop schedule: how long after its
    due time each operation actually started (never negative — an early
    start is a clock quirk, not negative delay)."""
    if len(due) != len(actual):
        raise ValueError("due and actual must pair up")
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def fell_behind(lags: Sequence[float], limit_s: float) -> bool:
    """True when the generator's tail lateness exceeds ``limit_s``: it then
    delivered load later than scheduled, so the latencies it produced
    understate what the schedule asked for."""
    if not lags:
        return False
    p = supported_tail(len(lags), 99) or 50
    return percentile(lags, p) > limit_s


def attribute_freshness(batches: Sequence[tuple[int, int, float]],
                        commits: Sequence[tuple[int, float]]
                        ) -> tuple[list[float], int]:
    """Change-to-visible latency per transaction.

    ``batches``: ``(start_lsn, end_lsn, end_time)`` per micro-batch, the LSN
    range ``(start, end]`` it applied and when it finished. ``commits``:
    ``(commit_lsn, due_time)`` per transaction. A transaction is visible at
    the end of the batch whose range holds its COMMIT frame. Returns the
    latencies (end_time - due_time) and the number of transactions no batch
    applied."""
    ordered = sorted(batches, key=lambda b: b[1])
    ends = [b[1] for b in ordered]
    out: list[float] = []
    missing = 0
    for lsn, due in commits:
        i = bisect.bisect_left(ends, lsn)
        if i == len(ends) or ordered[i][0] >= lsn:
            missing += 1
            continue
        out.append(ordered[i][2] - due)
    return out, missing


class Tracer:
    """In-memory spans: name, start, end, parent, plus the run id every span
    of one workload run shares. ``enabled=False`` makes ``span`` a no-op so
    the untraced run pays nothing but the branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, on: bool = True):
        if not (self.enabled and on):
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "start": start, "end": end,
                                   "run": self.run_id})

    def write(self, path: str) -> None:
        """Spans as JSON lines, then one line of self time per span name."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"self_s": self_times(self.spans)}) + "\n")


def self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Seconds each span name spent outside its children: a span's duration
    minus the union of the intervals its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant of it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so forked Python workers do not count
    their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), summed as PSS from /proc."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler",
                                        daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        now = sum(_pss_bytes(p) for p in process_tree(os.getpid()))
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, now)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
