"""Host-side helpers: the contention gate, peak memory and process
cleanup. Linux /proc only; every reader degrades to "unknown" (None)
rather than failing the run when a file is missing."""

from __future__ import annotations

import os
import signal
import threading
import time

# a run is tainted when the host was busy with work that is not ours:
# hypervisor steal above this share of CPU time, or more runnable
# processes outside our own tree than this share of the cores
STEAL_LIMIT = 0.035
FOREIGN_RUNNABLE_PER_CORE = 0.5
SAMPLE_INTERVAL_S = 1.0


def _cpu_times() -> tuple[int, int] | None:
    """(total, steal) jiffies summed over all CPUs."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:]
    except OSError:
        return None
    vals = [int(x) for x in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a process, or None when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw.rsplit(")", 1)[1].split()
    return rest[0], int(rest[1])


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int | None = None) -> set[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(st[1], []).append(pid)
    out: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def foreign_runnable() -> int:
    """Processes in state R that are not this process or its tree."""
    ours = descendants() | {os.getpid()}
    n = 0
    for pid in _all_pids():
        if pid in ours:
            continue
        st = _stat(pid)
        if st is not None and st[0] == "R":
            n += 1
    return n


class ContentionGate:
    """Samples steal% and foreign runnable processes before the run
    (``baseline``) and every SAMPLE_INTERVAL_S while it runs. A run
    whose worst sample crosses either limit is reported as tainted, so
    its figures can be set aside instead of averaged in."""

    def __init__(self):
        self.cores = os.cpu_count() or 1
        self.samples: list[dict] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self, prev: tuple[int, int] | None, dt: float) -> tuple[int, int] | None:
        time.sleep(dt)
        cur = _cpu_times()
        steal = None
        if prev is not None and cur is not None and cur[0] > prev[0]:
            steal = (cur[1] - prev[1]) / (cur[0] - prev[0])
        self.samples.append({"t": time.time(), "steal": steal,
                             "foreign_runnable": foreign_runnable()})
        return cur

    def baseline(self) -> None:
        """One sample over half a second, before the run starts."""
        self._sample(_cpu_times(), 0.5)

    def start(self) -> None:
        def loop():
            prev = _cpu_times()
            while not self._stop.is_set():
                prev = self._sample(prev, SAMPLE_INTERVAL_S)
        self._thread = threading.Thread(target=loop, name="contention-gate", daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5 * SAMPLE_INTERVAL_S)
        steals = [s["steal"] for s in self.samples if s["steal"] is not None]
        runnable = [s["foreign_runnable"] for s in self.samples]
        max_steal = max(steals) if steals else None
        max_run = max(runnable) if runnable else None
        reasons = []
        if max_steal is not None and max_steal > STEAL_LIMIT:
            reasons.append(f"steal {max_steal:.3f} > {STEAL_LIMIT}")
        limit = FOREIGN_RUNNABLE_PER_CORE * self.cores
        if max_run is not None and max_run > limit:
            reasons.append(f"foreign runnable {max_run} > {limit:g}")
        return {"tainted": bool(reasons), "reasons": reasons,
                "samples": len(self.samples), "max_steal": max_steal,
                "max_foreign_runnable": max_run,
                "mean_foreign_runnable": (sum(runnable) / len(runnable)) if runnable else None}


def vm_hwm_mb(pid: int) -> float | None:
    """Peak resident set (VmHWM) of a process in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def reap(pids: set[int], grace: float = 10.0) -> None:
    """SIGTERM, then SIGKILL after ``grace`` seconds, every pid still
    alive; waits until each has ended."""
    def alive(p: int) -> bool:
        st = _stat(p)
        return st is not None and st[0] != "Z"

    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + grace
    while time.monotonic() < deadline and any(alive(p) for p in pids):
        time.sleep(0.1)
    killed = [p for p in pids if alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(alive(p) for p in pids):
        time.sleep(0.05)
