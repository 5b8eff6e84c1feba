"""Host facts and /proc sampling for the benchmark process tree.

The engine runs as this Python process (the py4j client), the JVM it
launches, and the Python workers the JVM forks.  CPU and RSS are summed
over every descendant of this process; the benchmark process itself is
left out, since it only waits on py4j calls.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MIB = 1024 * 1024
RSS_PERIOD_S = 0.05


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def jvm_heap() -> str:
    """JVM heap sized to the host: a sixteenth of physical memory,
    clamped to [1, 4] GiB, so the JVM and its Python workers stay far below
    RAM."""
    mib = mem_total_bytes() // MIB // 16
    return f"{max(1024, min(4096, mib))}m"


def _stat(pid: str) -> tuple[int, int, int, str] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages, command name) or
    None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks, int(fields[21]), comm


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree() -> dict[int, tuple[int, int]]:
    """{pid: (cpu ticks, rss pages)} for every descendant of this process.

    A child the JVM spawned that has not yet exec'd (the JVM runs shell
    commands, such as Hadoop's chmod, as subprocesses) still reports the JVM's resident pages as its
    own; it is left out, so those pages are not counted twice.  It is told
    by its executable, the JVM's own: its command name is the name of the
    JVM thread that spawned it."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                stats[int(name)] = st
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(me, []))
    while todo:
        pid = todo.pop()
        ppid, ticks, rss, _ = stats[pid]
        if ppid in stats and stats[ppid][3] == "java" and _exe(pid) == _exe(ppid):
            continue
        out[pid] = (ticks, rss)
        todo.extend(children.get(pid, []))
    return out


def engine_cpu_s() -> float:
    return sum(t for t, _ in _tree().values()) / _CLK


def engine_rss_mb() -> float:
    return sum(r for _, r in _tree().values()) * _PAGE / MIB


def du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


class RssSampler:
    """Background thread keeping the peak summed RSS; :meth:`take` returns
    the peak since the previous call."""

    def __init__(self):
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = engine_rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self._sample()

    def take(self) -> float:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
