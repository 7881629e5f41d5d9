"""CPU and memory of the Spark JVM and its Python workers, read from /proc.

Spark's ``executorCpuTime`` counts JVM task threads only; the pandas
UDF stages of the crawl run in Python worker processes that the JVM
forks (``pyspark.daemon`` and its children), so their CPU is read here.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start past ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"python" in f.read().split(b"\0")[0]
    except OSError:
        return False


def cpu_seconds(root: int, python_only: bool = False) -> float:
    """User+system CPU of ``root`` and its descendants, including the
    children they have already reaped (cutime/cstime)."""
    total = 0
    for pid in descendants(root):
        if python_only and not _is_python(pid):
            continue
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted from field 3 here
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def pss_bytes(root: int) -> int:
    """Resident memory of the tree: the RSS of ``root`` (the JVM, whose
    pages no other process of the tree maps) plus the PSS of the rest.
    The Python workers are forked from one daemon and share most of
    their pages, which plain RSS would count again for every worker.
    The JVM's own PSS would cost the kernel a walk of its whole heap on
    every sample, tens of ms of CPU taken from the crawl."""
    total = 0
    for pid in descendants(root):
        try:
            total += _rss_kb(pid) if pid == root else _pss_kb(pid)
        except OSError:  # the process ended between listing and reading
            pass
    return total * 1024


class PeakMemory:
    """Samples the PSS of a process tree until stopped."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, pss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, pss_bytes(self.root))


def steal_seconds() -> float:
    """CPU time the hypervisor took from this machine's vCPUs, summed."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def load_avg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
