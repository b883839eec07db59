"""Process-tree CPU and memory accounting from ``/proc``.

The benchmark driver (this Python process) starts one JVM, which starts
one ``pyspark.daemon``, which forks the Python workers.  Spark's own
``executorCpuTime`` counts JVM task threads only, so Python-worker CPU
is read here, from the kernel.

CPU of a process tree is the sum over its LIVE members of
utime + stime + cutime + cstime: a worker that exited and was reaped
by its parent has moved its CPU into that parent's cutime/cstime, so
nothing is lost and nothing is counted twice.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024

# command-line markers of the processes a PySpark session starts
_JVM_MARK = "org.apache.spark.deploy.SparkSubmit"
_DAEMON_MARK = "pyspark.daemon"
_WORKER_MARK = "pyspark.worker"


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return f.read().decode("utf-8", "replace")
    except OSError:
        return None


def _stat(pid: int):
    """(ppid, self_ticks, child_ticks, rss_kb) or None if gone."""
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return None
    # the command name may hold spaces/parens: split after the last ')'
    f = s[s.rindex(")") + 2:].split()
    ppid = int(f[1])
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    rss_kb = int(f[21]) * _PAGE_KB
    return ppid, utime + stime, cutime + cstime, rss_kb


def _cmdline(pid: int) -> str:
    s = _read(f"/proc/{pid}/cmdline")
    return s.replace("\0", " ") if s else ""


def _all_pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not including it)."""
    kids: dict[int, list[int]] = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            kids.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class TreeSnapshot:
    """CPU seconds of the driver, the JVM and the Python workers, plus
    the tree's resident set, at one instant."""

    __slots__ = ("driver_s", "jvm_s", "pyworker_s", "rss_mb")

    def __init__(self, driver_s=0.0, jvm_s=0.0, pyworker_s=0.0, rss_mb=0.0):
        self.driver_s = driver_s
        self.jvm_s = jvm_s
        self.pyworker_s = pyworker_s
        self.rss_mb = rss_mb

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s

    def __sub__(self, other: "TreeSnapshot") -> "TreeSnapshot":
        return TreeSnapshot(self.driver_s - other.driver_s,
                            self.jvm_s - other.jvm_s,
                            self.pyworker_s - other.pyworker_s,
                            self.rss_mb)


def snapshot(root: int | None = None) -> TreeSnapshot:
    """Classify every live member of ``root``'s tree.  A member under a
    ``pyspark.daemon`` (or the daemon itself) is a Python worker; a
    member whose command line is the SparkSubmit JVM is the JVM; the
    root is the driver.  The JVM's own cutime is its reaped helper
    processes; the daemon subtree is live, so it is not in it."""
    root = os.getpid() if root is None else root
    rs = _stat(root)
    if rs is None:
        return TreeSnapshot()
    snap = TreeSnapshot(driver_s=rs[1] / _TICK, rss_mb=rs[3] / 1024.0)
    kids: dict[int, list[int]] = {}
    stats = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            stats[pid] = st
            kids.setdefault(st[0], []).append(pid)
    # root's cutime holds reaped short-lived helpers (spark-submit shell)
    snap.driver_s += rs[2] / _TICK
    todo = [(c, False) for c in kids.get(root, [])]
    while todo:
        pid, in_worker = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        is_worker = in_worker or any(
            m in _cmdline(pid) for m in (_DAEMON_MARK, _WORKER_MARK))
        ticks = (st[1] + st[2]) / _TICK
        if is_worker:
            snap.pyworker_s += ticks
        else:
            snap.jvm_s += ticks
        snap.rss_mb += st[3] / 1024.0
        todo.extend((c, is_worker) for c in kids.get(pid, []))
    return snap


class PeakRss:
    """Background sampler of the tree's summed resident set (MB)."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, snapshot().rss_mb)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, snapshot().rss_mb)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's CPUs since boot: steal is the
    time a hypervisor ran something else while this guest wanted a CPU."""
    f = [int(x) for x in _read("/proc/stat").splitlines()[0].split()[1:]]
    return f[7], sum(f[:8])


def kill_leftovers(cwd: str) -> int:
    """Kill Spark JVMs and pyspark daemons/workers left by an earlier
    run in ``cwd``.  Matching is on /proc, never on a shell pattern, so
    this process and its ancestors (whose command lines may mention the
    same words) are never candidates.  Returns the number killed."""
    me = os.getpid()
    protect = {me}
    pid = me
    while pid > 1:
        st = _stat(pid)
        if st is None:
            break
        pid = st[0]
        protect.add(pid)
    cwd = os.path.realpath(cwd)
    victims = []
    for pid in _all_pids():
        if pid in protect:
            continue
        cmd = _cmdline(pid)
        if not any(m in cmd for m in (_JVM_MARK, _DAEMON_MARK, _WORKER_MARK)):
            continue
        try:
            if os.path.realpath(f"/proc/{pid}/cwd") != cwd:
                continue
        except OSError:
            continue
        victims.append(pid)
    for pid in victims:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(victims, timeout_s=30)
    return len(victims)


def wait_gone(pids, timeout_s: float) -> bool:
    """Poll until every pid has exited (reaped or zombie-free)."""
    deadline = time.monotonic() + timeout_s
    left = list(pids)
    while left and time.monotonic() < deadline:
        left = [p for p in left if _alive(p)]
        if left:
            time.sleep(0.05)
    return not left


def _alive(pid: int) -> bool:
    s = _read(f"/proc/{pid}/stat")
    if s is None:
        return False
    return s[s.rindex(")") + 2] != "Z"
