"""CPU and memory of the driver's process tree, read from ``/proc``.

The tree is this Python driver, the JVM it launched (``java``) and the
PySpark Python workers the JVM forks. CPU seconds are split between the JVM
and the Python workers; the driver's own CPU is in neither. Resident memory
is summed over the whole tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may itself contain spaces or parentheses
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2 :].split()
    return raw[lpar + 1 : rpar], int(rest[1]), rest


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """Every live process under ``root`` (inclusive): pid -> (comm, stat fields)."""
    procs: dict[int, tuple[str, int, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, list[str]]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = (procs[pid][0], procs[pid][2])
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> dict[str, float]:
    """{"jvm": s, "py": s}: CPU seconds so far of the JVM and the Python
    workers under ``root``. A worker's figure includes the children it has
    reaped, so a worker that exited after its parent waited for it still
    counts."""
    jvm = py = 0
    for pid, (comm, f) in tree(root).items():
        # fields after comm: utime=11, stime=12, cutime=13, cstime=14
        own = int(f[11]) + int(f[12])
        if comm == "java":
            jvm += own
        elif pid != root and comm.startswith("python"):
            py += own + int(f[13]) + int(f[14])
    return {"jvm": jvm / _TICK, "py": py / _TICK}


def steal_seconds() -> float:
    """CPU seconds the hypervisor has so far withheld from this machine's
    CPUs (summed over CPUs; 0 where it is not reported). A run that
    collects much more of it than others ran on a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def rss_bytes(root: int) -> int:
    """Summed resident set size of the tree under ``root``."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited between the listing and the read
    return total


class PeakRss:
    """Background sampler of :func:`rss_bytes`; ``peak`` is the largest sample."""

    # a sample reads every /proc entry (~2 ms of driver CPU under the GIL);
    # 0.2 s keeps that ~1% of a core while the heap-pinned JVM and the
    # reused Python workers change RSS far more slowly
    INTERVAL_S = 0.2

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, rss_bytes(self.root))
