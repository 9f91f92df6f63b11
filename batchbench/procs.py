"""Host and process-tree readings from /proc: CPU seconds and resident
memory of this process and every descendant (the Spark JVM and its Python
workers), CPU steal and load average."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf('SC_CLK_TCK')
_PAGE = os.sysconf('SC_PAGE_SIZE')


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f'/proc/{pid}/stat') as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(')') + 2:].split()


def tree_pids(root: int) -> list[int]:
    """root and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir('/proc'):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including children the tree
    has already reaped (a worker that exited counts in its parent)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f'/proc/{pid}/statm') as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's resident memory on a background thread between
    start() and stop(). ``take()`` returns the largest sum seen since the
    previous take(), in bytes; ``peak`` is the largest over the whole time."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s, self.peak, self._window = root, interval_s, 0, 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self._window = max(self._window, rss)
            self.peak = max(self.peak, rss)
        return rss

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> 'PeakRss':
        self._thread.start()
        return self

    def take(self) -> int:
        self._sample()
        with self._lock:
            window, self._window = self._window, 0
        return window

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


def stop_spark(spark, root: int, grace_s: float = 20.0) -> None:
    """Stop the Spark session (if any), end the JVM that PySpark launched
    and every other process under ``root``, and wait until each has gone.

    ``spark.stop()`` leaves the gateway JVM running; it exits by itself only
    once this process has exited, so without this it outlives the run. Closing
    its stdin asks it to exit (it runs its shutdown hooks); what is still
    alive after ``grace_s`` is killed."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a broken session must not keep its JVM alive
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, 'proc', None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    stop_tree(root)


def stop_tree(root: int, grace_s: float = 5.0) -> None:
    """SIGTERM every descendant of ``root``, SIGKILL what is left after
    ``grace_s``, and wait until none is left (reaping our own children)."""
    pids = [p for p in tree_pids(root) if p != root]
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            pids = [p for p in pids if _alive(p)]
            if not pids or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not pids:
            return


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    """True while the process exists; a zombie left for another parent to
    reap still counts, since it holds its process-table entry."""
    return os.path.exists(f'/proc/{pid}')


def _cpu_jiffies() -> list[int]:
    with open('/proc/stat') as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_sample(window_s: float = 0.1) -> dict:
    """CPU steal share over a short window, and the load averages."""
    a = _cpu_jiffies()
    time.sleep(window_s)
    b = _cpu_jiffies()
    d = [y - x for x, y in zip(a, b)]
    steal = d[7] if len(d) > 7 else 0
    with open('/proc/loadavg') as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {'steal_pct': round(100.0 * steal / max(sum(d), 1), 3),
            'loadavg': load, 'unix_time': round(time.time(), 3)}
