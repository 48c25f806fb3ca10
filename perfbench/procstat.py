"""Process-tree CPU-seconds and Python-worker RSS, read from /proc.

The tree is this process and every descendant: the driver JVM that
pyspark launches, the pyspark daemon and the Python workers it forks.
CPU of a descendant that already exited is still counted, through the
``cutime``/``cstime`` its parent collects when it reaps it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.05


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime + stime + cutime + cstime in seconds) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm", "rb") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def tree(root: int) -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu_s) for ``root`` and all of its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo += children.get(pid, [])
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else while a CPU of this
    machine wanted to run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


#: HotSpot's JIT compiler threads (``comm`` is cut at 15 bytes)
_JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _task_cpu_s(path: str) -> float:
    """utime + stime in seconds from a /proc/.../task/<tid>/stat file."""
    with open(path, "rb") as fh:
        raw = fh.read()
    fields = raw[raw.rindex(b")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def cpu_s() -> tuple[float, float]:
    """(work, jit): CPU-seconds of this process and all of its
    descendants less those of the JVM's JIT compiler threads, and the
    JIT threads' own. Compiling hot code is warm-up that a long job
    amortizes; in a short run it lands at random and shrinks from pass
    to pass, so it is kept apart. The JVM must keep its compiler
    threads alive (-XX:-UseDynamicNumberOfCompilerThreads), or a thread
    that exits takes its CPU into ``work``."""
    procs = tree(os.getpid())
    jit = 0.0
    for pid in procs:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm", "rb") as fh:
                    if fh.read().startswith(_JIT_THREADS):
                        jit += _task_cpu_s(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                pass
    return sum(cpu for _, cpu in procs.values()) - jit, jit


def thread_cpu_s(tid: int) -> float:
    """CPU-seconds of thread ``tid`` of this process."""
    return _task_cpu_s(f"/proc/self/task/{tid}/stat")


def is_python_worker(pid: int) -> bool:
    cmd = _cmdline(pid)
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _children(pid: int) -> list[int]:
    """Children that the main thread of ``pid`` forked (the pyspark
    daemon forks its workers from its one thread)."""
    try:
        with open(f"/proc/{pid}/task/{pid}/children", "rb") as fh:
            return [int(x) for x in fh.read().split()]
    except OSError:
        return []


class Sampler:
    """Background thread that samples, every SAMPLE_INTERVAL_S, the
    largest RSS of any Python worker: the pyspark daemons found in this
    process's tree when it starts and the workers they fork. A sample
    reads only those processes, not all of /proc. ``peak_mb`` is the
    largest value seen; ``cpu_s()`` is the thread's own CPU so far,
    which callers subtract from the process tree's."""

    def __init__(self):
        self.peak_mb = 0.0
        procs = tree(os.getpid())
        workers = {pid for pid in procs if is_python_worker(pid)}
        self._daemons = [pid for pid in workers if procs[pid][0] not in workers]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="procstat", daemon=True)
        self._tid: int | None = None
        self._started = threading.Event()

    def __enter__(self) -> "Sampler":
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def cpu_s(self) -> float:
        try:
            return thread_cpu_s(self._tid)
        except OSError:  # the thread has ended
            return self._final_cpu_s

    def sample(self) -> None:
        for d in self._daemons:
            for pid in [d, *_children(d)]:
                self.peak_mb = max(self.peak_mb, _rss_mb(pid))

    def _run(self) -> None:
        self._tid = threading.get_native_id()
        self._started.set()
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()
        self._final_cpu_s = thread_cpu_s(self._tid)
