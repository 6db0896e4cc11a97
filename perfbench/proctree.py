"""Process-tree counters read from ``/proc``: CPU time, peak resident memory
and bytes written by a process and all of its descendants (the driver's Python,
the JVM it launches, and the ``pyspark.daemon`` Python workers under it)."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
#: how often the sampler thread reads the tree
SAMPLE_INTERVAL_S = 0.25


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode(errors="replace")
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _own_ticks(pid: int) -> int:
    """utime + stime of ``pid`` alone, without its reaped children."""
    fields = _stat_fields(pid)
    return int(fields[11]) + int(fields[12]) if fields else 0


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of each process's own peak resident memory (``VmHWM``)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total


def wchar(pids: list[int]) -> int:
    """Bytes passed to write calls by ``pids`` (``/proc/<pid>/io``)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("wchar:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: steal is time the
    hypervisor ran something else while this machine's CPUs had work."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class WorkerSampler:
    """Samples the tree on a thread until stopped, keeping the last-seen
    own CPU ticks of every Python worker. A worker that exits keeps its
    last reading, so its CPU is not lost when the JVM reaps it."""

    def __init__(self, root: int):
        self.root = root
        self.worker_ticks: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        workers = {p: _own_ticks(p) for p in descendants(self.root) if is_python_worker(p)}
        with self._lock:
            for pid, ticks in workers.items():
                self.worker_ticks[pid] = max(ticks, self.worker_ticks.get(pid, 0))

    def mark(self) -> dict[int, int]:
        self.sample()
        with self._lock:
            return dict(self.worker_ticks)

    def cpu_since(self, mark: dict[int, int]) -> float:
        """Python-worker CPU seconds spent since ``mark()``."""
        self.sample()
        with self._lock:
            ticks = sum(t - mark.get(p, 0) for p, t in self.worker_ticks.items())
        return ticks / _TICK

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "WorkerSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
