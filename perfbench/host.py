"""Host probes: core count, the fixed-work CPU calibration, and resident
memory of this process tree (this process, the JVM, Python workers) read
from /proc."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# bench.py's single-thread matmul probe: the same 2000x2000 product, run
# once instead of five times and reported x5, so ``calib_s`` reads on the
# same scale as bench.py's while costing a fifth of it
_CALIB = """
import time, numpy as np
a = np.arange(2000 * 2000, dtype=np.float64).reshape(2000, 2000) / 1e6
t0 = time.time()
a @ a
print(5 * (time.time() - t0))
"""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def calib_s() -> float:
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    out = subprocess.run([sys.executable, "-c", _CALIB], capture_output=True,
                         text=True, env=env, timeout=120, check=True)
    return round(float(out.stdout.split()[-1]), 3)


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces and parentheses
                head, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
            procs[int(d)] = (int(rest.split()[1]), head)
        except (OSError, IndexError, ValueError):
            continue
    return procs


def descendants(pid: int | None = None, procs=None) -> list[int]:
    procs = _procs() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(p)
    todo, out = [pid or os.getpid()], []
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes() -> int:
    """RSS of this process, its JVM and its Python workers.  Other
    descendants are skipped: a helper the JVM spawns (Hadoop's shell
    commands) shares the JVM's memory until it execs and reports the JVM's
    whole RSS, under the name of the JVM thread that spawned it."""
    me, procs = os.getpid(), _procs()

    def counted(pid):
        ppid, name = procs[pid]
        if name == "java":
            return procs.get(ppid, (0, ""))[1] != "java"
        return name.startswith("python")
    return _rss_bytes(me) + sum(_rss_bytes(p) for p in descendants(me, procs)
                                if counted(p))


class RssSampler:
    """Peak of the summed RSS of this process and its descendants."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes())

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak / 2 ** 20


def wait_for_children(timeout_s: float = 60.0) -> None:
    """Block until every process this one started has exited."""
    deadline = time.time() + timeout_s
    while descendants():
        if time.time() > deadline:
            raise RuntimeError(f"child processes still running: {descendants()}")
        time.sleep(0.1)
