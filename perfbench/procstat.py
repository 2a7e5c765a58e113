"""CPU and resident memory of a process tree, read from /proc.

The benchmark's process tree is its own Python process, the Spark
JVM it launches, and the pyspark daemon and Python workers the JVM
forks. CPU is utime+stime+cutime+cstime per live process, so a worker
that exits and is reaped by its parent still counts (through the
parent's cutime/cstime). Processes whose command name starts with
``java`` are JVM CPU; every other process in the tree is Python CPU.

Every reader takes the /proc root as an argument so the parsing can be
tested against a fake tree.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")
PF_FORKNOEXEC = 0x40  # kernel task flag: forked and not yet exec'd


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    flags: int
    cpu_ticks: int   # utime + stime + cutime + cstime
    rss_pages: int


@dataclass(frozen=True)
class TreeCpu:
    jvm_s: float
    py_s: float

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.py_s

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.jvm_s - other.jvm_s, self.py_s - other.py_s)


def parse_stat(text: str) -> ProcStat:
    """Parse one /proc/<pid>/stat line. The command name sits in
    parentheses and may itself hold spaces or parentheses, so the
    fields after it are split from the last ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1:rpar]
    rest = text[rpar + 2:].split()
    # rest[0] is field 3 (state); field n is rest[n - 3]
    utime, stime, cutime, cstime = (int(rest[i]) for i in (11, 12, 13, 14))
    return ProcStat(pid=pid, ppid=int(rest[1]), comm=comm, flags=int(rest[6]),
                    cpu_ticks=utime + stime + cutime + cstime,
                    rss_pages=int(rest[21]))


def read_procs(proc_root: str = "/proc") -> dict[int, ProcStat]:
    procs = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as fh:
                st = parse_stat(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
        procs[st.pid] = st
    return procs


def descendants(procs: dict[int, ProcStat], root: int) -> list[ProcStat]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for st in procs.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
        stack.extend(children.get(pid, ()))
    return out


def is_jvm(st: ProcStat) -> bool:
    return st.comm.startswith("java")


def tree_cpu(root: int | None = None, proc_root: str = "/proc") -> TreeCpu:
    tree = descendants(read_procs(proc_root), os.getpid() if root is None else root)
    jvm = sum(st.cpu_ticks for st in tree if is_jvm(st))
    py = sum(st.cpu_ticks for st in tree if not is_jvm(st))
    return TreeCpu(jvm / CLK_TCK, py / CLK_TCK)


def tree_rss_bytes(root: int | None = None, proc_root: str = "/proc") -> int:
    """Summed RSS of the tree. A child of the JVM that has not exec'd
    yet is skipped: the JVM starts helpers with vfork, and until the
    exec the child shares, and reports, the JVM's whole memory."""
    procs = read_procs(proc_root)
    tree = descendants(procs, os.getpid() if root is None else root)
    return PAGE_SIZE * sum(
        st.rss_pages for st in tree
        if not (st.flags & PF_FORKNOEXEC and st.ppid in procs
                and is_jvm(procs[st.ppid])))


def child_pids(root: int | None = None, proc_root: str = "/proc") -> list[int]:
    """Live processes below ``root`` (``root`` itself excluded)."""
    root = os.getpid() if root is None else root
    return [st.pid for st in descendants(read_procs(proc_root), root)
            if st.pid != root]


class RssSampler:
    """Samples the tree's summed RSS on a background thread and keeps
    the peak. Use as a context manager around a timed region."""

    def __init__(self, interval_s: float = 0.25, root: int | None = None):
        self.interval_s = interval_s
        self.root = root
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
