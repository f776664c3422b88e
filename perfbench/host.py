"""Host fingerprint and /proc samplers: CPU steal across a pass, and the
proportional set size (PSS) of a whole process tree."""

from __future__ import annotations

import os
import platform
import signal
import threading
import time


def host_record(code_hash: str, cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "mem_total_mb": round(mem_kb / 1024),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "code_hash": code_hash,
    }


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) clock ticks summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


def steal_share(before: tuple[int, int, int], after: tuple[int, int, int]) -> float:
    """Share of the window's CPU ticks the hypervisor stole."""
    total = after[2] - before[2]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
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
        todo.extend(kids.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left after the
    timeout."""
    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tree_pss_mb(root: int) -> dict[str, float]:
    """PSS of `root` and all its descendants, in MB by command name:
    summed PSS counts the shared pages of forked workers once."""
    out: dict[str, float] = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[comm] = out.get(comm, 0.0) + int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


class PssSampler:
    """Samples the tree's PSS on a thread. `peak()` gives the highest
    total since the last `reset()`, with its split by command name. One
    sample costs ~45 ms of CPU (the kernel walks the JVM's page tables),
    so the interval keeps the sampler near 10 % of one core."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self._peak: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        v = tree_pss_mb(self.root)
        total = sum(v.values())
        with self._lock:
            if total > sum(self._peak.values()):
                self._peak = v

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self._peak = {}
        self._sample()

    def peak(self) -> tuple[float, dict[str, float]]:
        self._sample()
        with self._lock:
            return sum(self._peak.values()), dict(self._peak)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
