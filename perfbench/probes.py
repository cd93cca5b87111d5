"""Host and process probes read from ``/proc``: CPU of the JVM and of its
Python worker children, resident memory, steal time and load."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    by_parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                by_parent.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in by_parent.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pid: int, with_reaped: bool = False) -> float:
    """User + system CPU seconds of ``pid``; with ``with_reaped`` also
    the CPU of its children that have exited and been waited for."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields after the name: state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14
    ticks = int(f[11]) + int(f[12])
    if with_reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def python_children(pid: int) -> list[int]:
    """Descendants of ``pid`` running Python: the JVM's Python workers.
    This leaves out the short-lived copies of the JVM that exist while
    it forks a subprocess, which would count its whole heap twice."""
    out = []
    for c in children(pid):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if b"python" in os.path.basename(argv0):
            out.append(c)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU of the JVM's Python worker processes, live and reaped."""
    return sum(cpu_s(p, with_reaped=True) for p in python_children(jvm_pid))


def rss_mb(pid: int, field: str = "VmRSS") -> float:
    return _kb_field(f"/proc/{pid}/status", field) / 1024.0


def pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between processes (Python
    workers forked from one daemon) are split among them, so a sum over
    the processes counts each page once."""
    return _kb_field(f"/proc/{pid}/smaps_rollup", "Pss") / 1024.0


def _kb_field(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of the driver and the JVM plus the
    proportional resident memory of the JVM's children (the Python
    workers, forked from one daemon and sharing most pages) in a
    background thread; the peak is the highest simultaneous sum seen."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> float:
        own = rss_mb(os.getpid()) + rss_mb(self.jvm_pid)
        return own + sum(pss_mb(p) for p in python_children(self.jvm_pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> dict:
        """Stop sampling; return the peak and, for the record, the
        driver's and the JVM's own high-water marks, in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return {
            "peak_mb": self.peak_mb,
            "driver_hwm_mb": rss_mb(os.getpid(), "VmHWM"),
            "jvm_hwm_mb": rss_mb(self.jvm_pid, "VmHWM"),
        }


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]
    return sum(vals), vals[7]


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
