"""Resident memory and CPU time of this process and all its descendants:
the Python driver, the Spark JVM it launched and the JVM's Python workers.

CPU time is what the end-to-end metrics use for work. On a few shared
cores the wall time of one ~40 s crawl generation swings by a quarter or
more with what else runs on the host. The CPU seconds the process tree
spends on it move much less, because time the tree waits for a core
counts in wall time only.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _scan() -> dict[int, tuple[int, int, float]]:
    """pid -> (parent pid, rss kB, CPU seconds incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        fields = st[st.rfind(")") + 2:].split()
        # fields[11:15]: utime, stime, cutime, cstime (proc(5), from field 3)
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(d)] = (int(fields[1]), pages * _PAGE_KB, cpu)
    return out


def _tree(root: int) -> tuple[int, float]:
    """(rss kB, CPU seconds) summed over root and every descendant."""
    procs = _scan()
    rss, cpu = 0, 0.0
    for pid, (_, kb, sec) in procs.items():
        p = pid
        while p and p != root:
            p = procs[p][0] if p in procs else 0
        if p == root:
            rss += kb
            cpu += sec
    return rss, cpu


class RssSampler(threading.Thread):
    """Peak resident set of the process tree, sampled every 100 ms. The
    sampler's own CPU time is kept apart so cpu_s() can leave it out.

    A level counts only once two samples in a row reach it, so a spike
    shorter than the sampling period does not set the peak. One such
    spike: a child the JVM spawns (Hadoop's shell calls) shares the JVM's
    memory until it execs, and a sample taken then counts the JVM twice.
    Without this, peaks about 2 GB above the rest showed in about one
    crawl run in eight."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.own_cpu_s = 0.0
        self._last_kb = 0
        self._halt = threading.Event()

    def _sample(self) -> None:
        kb = _tree(os.getpid())[0]
        self.peak_kb = max(self.peak_kb, min(kb, self._last_kb))
        self._last_kb = kb

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self.own_cpu_s = time.thread_time()
            self._halt.wait(0.1)

    def stop(self) -> float:
        """Stop sampling; the peak in MB."""
        self._halt.set()
        self.join()
        self._sample()
        return self.peak_kb / 1024.0


_sampler: RssSampler | None = None


def start_sampler() -> RssSampler:
    global _sampler
    _sampler = RssSampler()
    _sampler.start()
    return _sampler


def cpu_s() -> float:
    """CPU seconds the process tree has used so far, without the RSS
    sampler's own share."""
    own = _sampler.own_cpu_s if _sampler is not None else 0.0
    return _tree(os.getpid())[1] - own
