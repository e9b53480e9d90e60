"""Host-side measurements that never touch the program under test: CPU and
resident memory of the benchmark's process tree (Python driver, the JVM it
launches and the JVM's Python workers), host steal time, a fixed probe of
host speed, and in-memory spans."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including children it has reaped."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor, summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class RssSampler:
    """Samples the tree's resident memory on a thread; ``peak`` is the
    largest sum seen."""

    def __init__(self, root: int, every_s: float = 0.25):
        self.root, self.every_s, self.peak = root, every_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def probe() -> dict[str, float]:
    """Fixed work unrelated to the program: a numpy matmul and a pure-Python
    loop. Its time tracks host weather; it rescales nothing."""
    a = np.random.default_rng(0).standard_normal((256, 256))
    t0 = time.perf_counter()
    for _ in range(20):
        a = np.tanh(a @ a.T / 256.0)
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    t2 = time.perf_counter()
    return {"matmul_s": t1 - t0, "python_s": t2 - t1}


class Spans:
    """Spans kept in memory: (name, op, start_ms, end_ms) on the epoch clock
    the Spark event log uses."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, int, float, float]] = []
        self.op = -1
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            t1 = time.time() * 1000.0
            with self._lock:
                self.spans.append((name, self.op, t0, t1))

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a spanned call; returns an undo."""
        orig = getattr(owner, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, orig)

    def of(self, name: str, op: int) -> list[tuple[float, float]]:
        return [(s, e) for n, o, s, e in self.spans if n == name and o == op]
