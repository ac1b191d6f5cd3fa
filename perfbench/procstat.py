"""CPU and memory of the Spark JVM and its Python workers, read from /proc.

`getrusage(RUSAGE_CHILDREN)` only sees children that were waited for,
so it misses the running JVM. Here the process tree under the benchmark
(the JVM, the pyspark daemon and its forked workers) is read directly:

- CPU: utime + stime + cutime + cstime of every live descendant. A
  reaped worker's time sits in its parent's cutime/cstime, so the sum
  over live processes counts every finished worker once.
- Memory: VmHWM (peak resident set) of the JVM and of every Python
  process under it, sampled by a background thread, since a worker's
  peak is lost when it exits. Other processes are left out: the JVM
  starts helper commands through vfork, and until the child execs it
  shares the JVM's address space and reports the JVM's VmHWM as its
  own, which would count the JVM twice.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), comm, (utime + stime + cutime + cstime) / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(root: int | None = None) -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds) for every live descendant of `root`."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _cpu) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[int, str, float]] = {}
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out[pid] = stats[pid]
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the JVM and its Python workers."""
    return sum(cpu for _ppid, _comm, cpu in descendants().values())


class PeakSampler:
    """Background sampler of the tree's summed VmHWM (all processes) and
    of the summed VmHWM of its Python processes; keeps the maxima."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.python_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def sample(self) -> None:
        total = python = 0.0
        procs = descendants()
        for pid, (ppid, comm, _cpu) in procs.items():
            if comm.startswith("python"):
                mb = _hwm_mb(pid)
                total += mb
                python += mb
            elif comm == "java" and procs.get(ppid, (0, ""))[1] != "java":
                total += _hwm_mb(pid)
        self.peak_mb = max(self.peak_mb, total)
        self.python_peak_mb = max(self.python_peak_mb, python)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> PeakSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
