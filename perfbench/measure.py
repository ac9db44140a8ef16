"""Host-side measurement helpers: peak memory of a process tree, CPU steal."""

from __future__ import annotations

import os
import threading


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided by
    the number of processes mapping it."""
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss_bytes(pid: int) -> int:
    """Resident set size from /proc/<pid>/statm, which the kernel keeps as
    a counter: reading it costs microseconds, where smaps_rollup walks every
    page table of the process (~25 ms for a JVM with a 1 GB heap, measured
    on a 4-vCPU VM; at 10 samples a second that was a quarter of a core
    taken from the job being timed)."""
    with open(f"/proc/{pid}/statm", "rb") as f:
        return int(f.read().split()[1]) * _PAGE


def _proc_table() -> dict:
    """pid -> (ppid, command name) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        close = stat.rfind(b")")
        comm = stat[stat.find(b"(") + 1:close].decode(errors="replace")
        out[int(name)] = (int(stat[close + 2:].split()[1]), comm)
    return out


def tree_rss(root: int) -> dict:
    """pid -> (command name, resident bytes) for ``root`` and all its
    descendants (the driver Python process, the JVM it launched, and the
    JVM's Python workers).

    Python processes count their proportional set size, so the sum over
    the tree counts each page once: plain RSS counts the copy-on-write pages
    that forked Python workers share with their daemon once per worker. The
    JVM shares no pages with the rest of the tree, so its plain RSS is read,
    which is far cheaper (see _rss_bytes). A ``java`` process whose parent is
    the JVM is the JVM mid fork-and-exec of a child and is skipped: counted,
    it doubled the JVM (measured: 4.9 GB instead of 3.0 GB).
    """
    table = _proc_table()
    children: dict = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid not in table:
            continue
        ppid, comm = table[pid]
        if comm == "java" and table.get(ppid, (0, ""))[1] == "java":
            continue
        try:
            out[pid] = (comm, (_rss_bytes if comm == "java" else _pss_bytes)(pid))
        except OSError:  # exited since the table was read
            pass
        stack.extend(children.get(pid, ()))
    return out


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (the 'steal' column of /proc/stat), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the process tree's summed memory every ``interval`` seconds
    while the ``with`` block runs; ``peak_mb`` is the largest sample and
    ``peak_procs`` the per-process breakdown of that sample."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak = 0
        self.peak_procs: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        procs = tree_rss(self.root)
        total = sum(rss for _, rss in procs.values())
        if total > self.peak:
            self.peak = total
            self.peak_procs = sorted(
                ((comm, round(rss / 2**20)) for comm, rss in procs.values()),
                key=lambda p: -p[1],
            )

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
