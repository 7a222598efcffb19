"""Host facts and process bookkeeping for one benchmark run.

- ``nproc``, ``driver_heap``, ``source_revision`` and ``env_snapshot``
  (``/proc/stat`` steal ticks, ``/proc/loadavg``): the environment
  record, taken before and after a run so box noise (CPU steal,
  neighbours' load) can be told apart from a program change.
- ``tree_cpu_s`` and ``RssPoller``: CPU seconds and peak resident set of
  every descendant process (the Spark driver JVM and its Python
  workers), read from ``/proc``.
- ``stop_spark`` and ``stop_children``: end the session's JVM and every
  other descendant process, and wait for them.
"""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """Driver heap sized to the box: a quarter of RAM, 1-6 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(1, min(6, kb // (4 * 1024 * 1024)))}g"


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_revision(root: str) -> str:
    """The checked-out git commit when ``root`` has one; otherwise a
    digest of the package sources (the benchmark also runs from plain
    source trees)."""
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref  # detached HEAD
        path = os.path.join(root, ".git", ref[len("ref: "):])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
    h = hashlib.sha256()
    pkg = os.path.join(root, "pygeodatacrawler_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def env_snapshot() -> dict:
    return {"steal_ticks": steal_ticks(), "loadavg": loadavg(), "t": time.time()}


def descendants(root_pid: int) -> list[int]:
    """Every live descendant of ``root_pid``, from ``/proc/*/stat``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) of every
    live descendant of ``root_pid`` — stolen time is not in it."""
    total = 0
    for pid in descendants(root_pid or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class RssPoller:
    """Background poll of the summed RSS of this process's descendants."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssPoller:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, then its gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_children(timeout: float = 15.0) -> None:
    """SIGTERM, then SIGKILL, every remaining descendant; wait for all."""
    me = os.getpid()
    pids = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout
        while time.time() < deadline:
            for p in list(pids):
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            if not pids:
                return
            time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rfind(")") + 2] == "Z"
