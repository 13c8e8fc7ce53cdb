"""CPU and RSS of the three process kinds a PySpark run spreads over:
the driver Python process, its JVM, and the JVM's Python workers (the
daemon and every worker it forked), read from ``/proc``."""

from __future__ import annotations

import os
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat``; ``pid`` may be ``"<pid>/task/<tid>"``
    for one thread."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after the parenthesised command name; index 0 is field 3
    return raw[raw.rindex(")") + 2 :].split()


def _ppid_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    return children


def descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    """Every process below ``root`` in the process tree."""
    if children is None:
        children = _ppid_map()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


@dataclass
class Sample:
    driver_cpu_s: float
    jvm_cpu_s: float
    worker_cpu_s: float
    rss_bytes: int
    jit_cpu_s: float = 0.0  # part of jvm_cpu_s

    @property
    def cpu_s(self) -> float:
        """CPU of driver, JVM and Python workers, less the JVM's JIT
        compiler threads: compilation goes on for minutes after warm-up
        and lands on whichever op runs next."""
        return self.driver_cpu_s + self.jvm_cpu_s - self.jit_cpu_s + self.worker_cpu_s


class ProcSampler:
    """Samples the driver, the JVM it launched, and the JVM's Python
    worker tree. Worker CPU includes the reaped-children totals
    (cutime/cstime) of the JVM and of every worker, so a worker that
    exits between samples still counts."""

    def __init__(self):
        self.driver = os.getpid()
        self.jvm: int | None = None
        self.jit_tids: list[int] = []

    def _find_jvm(self, children) -> int | None:
        for pid in children.get(self.driver, []):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        return pid
            except OSError:
                pass
        return None

    def jvm_pid(self) -> int | None:
        if self.jvm is None:
            self.jvm = self._find_jvm(_ppid_map())
        return self.jvm

    def _find_jit_threads(self) -> list[int]:
        """The JVM's JIT compiler threads. The benchmark starts the JVM
        with -XX:-UseDynamicNumberOfCompilerThreads, so they all exist
        from start-up and never exit: found once, their CPU stays
        comparable between samples."""
        tids = []
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            try:
                with open(f"/proc/{self.jvm}/task/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        tids.append(int(tid))
            except OSError:
                pass
        return tids

    def sample(self) -> Sample:
        children = _ppid_map()
        if self.jvm is None:
            self.jvm = self._find_jvm(children)
            if self.jvm is not None:
                self.jit_tids = self._find_jit_threads()
        drv = _stat(self.driver)
        driver_cpu = (int(drv[11]) + int(drv[12])) / _CLK
        rss = int(drv[21]) * _PAGE
        jvm_cpu = worker_cpu = jit_cpu = 0.0
        if self.jvm is not None:
            for tid in self.jit_tids:
                st = _stat(f"{self.jvm}/task/{tid}")
                if st is not None:
                    jit_cpu += (int(st[11]) + int(st[12])) / _CLK
            jst = _stat(self.jvm)
            if jst is not None:
                jvm_cpu = (int(jst[11]) + int(jst[12])) / _CLK
                # the JVM's reaped children are Python processes (the
                # data-source planner runners exit after each call)
                worker_cpu += (int(jst[13]) + int(jst[14])) / _CLK
                rss += int(jst[21]) * _PAGE
            for pid in descendants(self.jvm, children):
                st = _stat(pid)
                if st is None:
                    continue
                worker_cpu += sum(int(x) for x in st[11:15]) / _CLK
                rss += int(st[21]) * _PAGE
        return Sample(driver_cpu, jvm_cpu, worker_cpu, rss, jit_cpu)
