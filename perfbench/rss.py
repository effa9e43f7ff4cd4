"""Peak resident memory of the benchmark's whole process tree.

The driver Python, the JVM, the pyspark daemon and its forked workers all
descend from this process. The single-task numpy kernels move memory into
one Python worker, so the sampler sums resident memory over the whole tree
rather than watching the JVM alone. One thread walks ``/proc`` every
``period`` seconds while a ``sampling()`` block is open, so set-up and the
output checks between timed iterations do not count.

Each process counts its proportional set size (PSS): resident pages, with
a page shared by n processes counted 1/n in each. Plain RSS counts shared
pages once per sharer, so the copy-on-write workers forked from the
pyspark daemon, and a JVM child caught between fork and exec, would each
add a full copy of their parent (one sample read 6.5 GB against 3.9 GB).
"""

from __future__ import annotations

import contextlib
import os
import threading
from collections import defaultdict


def _parent_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we walked
            continue
        # the command name may hold spaces or parentheses: parse after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(entry.name))
    return children


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = _parent_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    """PSS of ``pid`` in bytes; 0 once it has ended."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    return sum(rss_bytes(p) for p in descendants(root))


class PeakSampler:
    """``with PeakSampler() as s:``, then ``with s.sampling(): ...`` around
    each stretch to watch; afterwards ``s.peak_bytes``."""

    def __init__(self, root: int | None = None, period: float = 0.5):
        self.root = os.getpid() if root is None else root
        self.period = period
        self.peak_bytes = 0
        self.samples = 0
        self._on = False
        self._lock = threading.Lock()  # a sample never outlives its block
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="rss-sampler", daemon=True
        )

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            with self._lock:
                if self._on:
                    self._sample()

    @contextlib.contextmanager
    def sampling(self):
        with self._lock:
            self._sample()
            self._on = True
        try:
            yield self
        finally:
            with self._lock:
                self._on = False
                self._sample()

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
