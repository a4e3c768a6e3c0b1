"""Process-tree and host counters read from ``/proc``.

CPU is charged over the whole process tree rooted at the benchmark process:
the benchmark's Python interpreter, the JVM it launches and the JVM's Python
workers. Each live process contributes ``utime + stime + cutime + cstime``
(``proc(5)``): a worker that exits and is reaped leaves its CPU in its
parent's ``cutime``/``cstime``, so it is counted exactly once, whether it
was alive at the first snapshot, the second, both or neither.

The JVM's JIT compiler threads are read apart (``jit_cpu_s``), and
``core_probe_s`` times a fixed loop on each core to tell how fast the
host's cores run at the moment.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def parse_stat(text: str) -> tuple[int, int, float]:
    """``/proc/<pid>/stat`` line → (pid, ppid, cpu seconds incl. reaped children)."""
    # comm (field 2) may contain spaces and parentheses: split after the last ')'
    head, rest = text.rsplit(")", 1)
    fields = rest.split()
    pid = int(head.split("(", 1)[0])
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return pid, ppid, (utime + stime + cutime + cstime) / CLK_TCK


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process exited between listdir and open


def snapshot() -> dict[int, tuple[int, float]]:
    """pid → (ppid, cpu seconds) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = _read(f"/proc/{name}/stat")
            if text:
                pid, ppid, cpu = parse_stat(text)
                out[pid] = (ppid, cpu)
    return out


def tree_pids(procs: dict[int, tuple[int, float]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = set(), [root]
    while stack:
        pid = stack.pop()
        if pid in procs and pid not in seen:
            seen.add(pid)
            stack.extend(children.get(pid, ()))
    return seen


def cpu_by_kind(procs: dict[int, tuple[int, float]], root: int, kind_of) -> dict[str, float]:
    """CPU seconds of the live tree under ``root`` (reaped children
    included), summed per ``kind_of(pid)``."""
    out: dict[str, float] = {}
    for pid in tree_pids(procs, root):
        kind = kind_of(pid)
        out[kind] = out.get(kind, 0.0) + procs[pid][1]
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "python"
    text = _read(f"/proc/{pid}/cmdline") or ""
    if "java" in text.split("\0", 1)[0]:
        return "jvm"
    return "workers" if "pyspark" in text else "other"


def tree_cpu_by_kind() -> dict[str, float]:
    """This process tree's CPU seconds split into the benchmark's interpreter,
    the JVM, the Python workers (their daemon included) and the rest."""
    root = os.getpid()
    out = dict.fromkeys(("python", "jvm", "workers", "other"), 0.0)
    out.update(cpu_by_kind(snapshot(), root, lambda pid: _kind(pid, root)))
    return out


def tree_cpu_s() -> float:
    """This process tree's CPU seconds, reaped children included."""
    procs = snapshot()
    return sum(procs[pid][1] for pid in tree_pids(procs, os.getpid()))


def parse_thread_stat(text: str) -> tuple[str, float]:
    """``/proc/<pid>/task/<tid>/stat`` line → (thread name without its
    trailing number, the thread's CPU seconds)."""
    head, rest = text.rsplit(")", 1)
    name = head.split("(", 1)[1].rstrip("0123456789 -#")
    fields = rest.split()
    return name, (int(fields[11]) + int(fields[12])) / CLK_TCK


def thread_cpu_by_name(pid: int | None) -> dict[str, float]:
    """CPU seconds of ``pid``'s live threads, summed per thread name
    (``C2 CompilerThre``, ``Executor task l``, ``GC Thread``, ...)."""
    out: dict[str, float] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, TypeError):
        return out
    for tid in tids:
        text = _read(f"/proc/{pid}/task/{tid}/stat")
        if text:
            name, cpu = parse_thread_stat(text)
            out[name] = out.get(name, 0.0) + cpu
    return out


#: thread names (``comm`` keeps 15 characters) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pid: int | None) -> float:
    """CPU seconds of the JVM ``pid``'s live JIT compiler threads."""
    return sum(v for k, v in thread_cpu_by_name(pid).items() if k in JIT_THREADS)


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    """``after - before`` per key, keeping the keys that grew."""
    out = {k: v - before.get(k, 0.0) for k, v in after.items()}
    return {k: v for k, v in out.items() if v > 0}


def jvm_pid() -> int | None:
    """The JVM in this process tree, if one runs."""
    root = os.getpid()
    procs = snapshot()
    return next(
        (pid for pid in tree_pids(procs, root) if pid != root and _kind(pid, root) == "jvm"),
        None,
    )


def tree_rss_mb(root: int | None = None) -> float:
    root = os.getpid() if root is None else root
    total_pages = 0
    for pid in tree_pids(snapshot(), root):
        text = _read(f"/proc/{pid}/statm")
        if text:
            total_pages += int(text.split()[1])
    return total_pages * PAGE_KB / 1024.0


class RssSampler:
    """Samples the tree's resident memory on a daemon thread; ``peak_mb``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


class ProbeSampler:
    """Runs ``core_probe_s`` every ``interval_s`` on a daemon thread while
    the benchmark works; ``probes`` holds every probe time."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.probes: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.probes += core_probe_s()

    def __enter__(self) -> "ProbeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_s() -> float:
    """Host-wide CPU steal seconds since boot (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def steal_share(cpu_s: float, steal_s: float) -> float:
    """Share of a window's CPU demand the hypervisor stole.

    ``cpu_s`` is what the process tree ran, ``steal_s`` what the host's
    vCPUs waited while runnable. With the same parallelism and no steal the
    window would have taken ``(1 - share)`` of its wall time."""
    demand = cpu_s + steal_s
    return steal_s / demand if demand > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def core_probe_s(iterations: int = 100_000) -> list[float]:
    """Thread CPU seconds of a fixed pure-Python loop, once on each usable
    core in turn (the calling thread is pinned to it, then released)."""
    cpus = os.sched_getaffinity(0)
    took = []
    try:
        for cpu in sorted(cpus):
            os.sched_setaffinity(0, {cpu})
            t = time.thread_time()
            s = 0
            for i in range(iterations):
                s += i * i
            took.append(time.thread_time() - t)
    finally:
        os.sched_setaffinity(0, cpus)
    return took

