"""Shared pieces of the benchmark: operation records, latency statistics,
the process-tree RSS sampler, byte accounting of written directories and
the run context handed to each workload."""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class Op:
    cls: str  # read / write / job
    name: str
    wall_s: float
    ok: bool


@dataclass
class Run:
    """What a workload hands back to ``run.py``."""

    setup_s: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    amp: list[float] = field(default_factory=list)  # per ingesting write: bytes written / batch bytes
    checks: int = 0  # correctness checks executed
    run_checks: int = 0  # of which checks of the run as a whole
    run_failed: int = 0
    failures: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # workload-specific counters

    def check(self, ok: bool, what: str) -> None:
        """Check the last operation's output; a wrong answer fails it."""
        self.checks += 1
        if not ok:
            self.ops[-1].ok = False
            self.failures.append(what)

    def check_run(self, ok: bool, what: str) -> None:
        """Check a property of the whole run (set-up, aggregate recall)."""
        self.checks += 1
        self.run_checks += 1
        if not ok:
            self.run_failed += 1
            self.failures.append(what)

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.run_checks

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops) + self.run_failed


@dataclass
class Context:
    spark: object
    tracer: Tracer
    workload: str
    seed: int
    seconds: float
    work: str  # scratch directory inside the checkout


def timed(ctx: Context, run: Run, cls: str, name: str, fn):
    """Run one operation as the single client of a closed loop: time it,
    trace it, and count an exception as a failed operation. Returns the
    operation's result, or None when it raised."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{name}", cls):
            out = fn()
        ok = True
    except Exception:  # a failed request is a measured outcome, not a crash
        out, ok = None, False
        run.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
    run.ops.append(Op(cls, name, time.perf_counter() - t0, ok))
    return out


def layer(ctx: Context, name: str, fn, *args, **kwargs):
    """Call one engine function inside a layer span named
    ``<module>.<function>``."""
    with ctx.tracer.span(name):
        return fn(*args, **kwargs)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tree_bytes(paths) -> dict[str, int]:
    """{file path: size} for every regular file under ``paths``."""
    out = {}
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
    return out


class WriteMeter:
    """Bytes written under a set of directories, counted as the size of
    every file that is new or changed since the last look."""

    def __init__(self, paths):
        self.paths = list(paths)
        self.seen = tree_bytes(self.paths)

    def delta(self) -> int:
        now = tree_bytes(self.paths)
        new = sum(s for p, s in now.items() if self.seen.get(p) != s)
        self.seen = now
        return new


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    Spark driver JVM and its Python workers), sampled from a thread."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
