"""Host measurements read from /proc (psutil is not installed): CPU time
and peak resident memory of the Spark JVM and every process under it,
and CPU steal; and a probe of the host's speed."""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
import zlib


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident memory (``VmHWM``) of ``root_pid`` and
    each live descendant, read once: the JVM and its Python workers."""
    kids = _children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total / 1024


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of
    ``root_pid``, its descendants and this process. Time the hypervisor
    steals is not in it."""
    kids = _children()
    ticks, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest is in user)
    return sum(fields[:8]), fields[7]


class StealMeter:
    """Share of the host's CPU time stolen by the hypervisor since
    construction, from the aggregate line of /proc/stat."""

    def __init__(self):
        self._total0, self._steal0 = _cpu_jiffies()

    def fraction(self) -> float:
        total, steal = _cpu_jiffies()
        dt = total - self._total0
        return (steal - self._steal0) / dt if dt > 0 else 0.0


def _probe_text() -> bytes:
    """About 1.3 MB of words from a fixed 2,000-word vocabulary."""
    rng = random.Random(0)
    letters = b"abcdefghijklmnopqrstuvwxyz"
    vocab = [
        bytes(rng.choice(letters) for _ in range(rng.randint(2, 9)))
        for _ in range(2000)
    ]
    return b" ".join(rng.choice(vocab) for _ in range(200_000))


_PROBE_TEXT = _probe_text()


def speed_probe(threads: int, rounds: int = 6) -> float:
    """How fast the host's cores run code now: CPU seconds for one thread
    to compress a fixed text twice with zlib, the median over ``threads``
    threads (zlib releases the GIL, so they run on as many cores) and
    ``rounds`` rounds. CPU seconds, not wall time, so the probe reads
    the cores' speed and not how many of them were free: other load
    sharing the cores leaves it unchanged, but not a slower core. About
    0.05 s on a quiet 4-core host."""
    cpus = []
    for _ in range(rounds):
        cpu = [0.0] * threads

        def work(i: int) -> None:
            c0 = time.thread_time()
            for _ in range(2):
                zlib.compress(_PROBE_TEXT, 6)
            cpu[i] = time.thread_time() - c0

        pool = [threading.Thread(target=work, args=(i,)) for i in range(threads)]
        for t in pool:
            t.start()
        for t in pool:
            t.join()
        cpus.extend(cpu)
    return statistics.median(cpus)
