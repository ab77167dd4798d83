"""Run environment of one benchmark run, pinned from outside the
package: CPU count, driver heap, where Python workers find
``webextract``, and private scratch directories inside the checkout.
Also samples the Python workers' memory from ``/proc``."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

WORKER_MODULES = ("pyspark.daemon", "perfbench.worker_daemon")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    """CPUs this process may run on — what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A driver heap sized to the box: a quarter of RAM, 1-4 GiB (the
    package default of 48g assumes a large host)."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f
                            if line.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def pin(root: Path, work: Path) -> int:
    """Set the environment every Spark process of this run inherits;
    returns the CPU count.  Must run before the JVM starts."""
    cpus = cpu_count()
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "WEBEXTRACT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        # Python workers import webextract (and, when traced, the
        # perfbench hooks) from the checkout, as --py-files would ship it
        "PYTHONPATH": os.pathsep.join(
            [str(root)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return cpus


def remove_stale_work(base: Path) -> None:
    """Delete work directories (``<name>-<pid>``) of runs no longer alive."""
    for d in base.glob("*-*"):
        pid = d.name.rsplit("-", 1)[1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        out[int(name)] = (ppid, cmd)
    return out


def descendants() -> dict[int, str]:
    """pid -> cmdline of every live descendant of this process."""
    root_pid = os.getpid()
    table = _proc_table()
    out = {}
    for pid, (_, cmd) in table.items():
        p, seen = pid, 0
        while p in table and p != root_pid and seen < 64:
            p, seen = table[p][0], seen + 1
        if p == root_pid and pid != root_pid:
            out[pid] = cmd
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process's live
    descendants (the JVM and the Python workers), including what the
    children they have reaped used.  Time the hypervisor steals from
    the vCPUs is not in it."""
    ticks = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(map(int, stat[stat.rindex(b")") + 2:].split()[11:15]))
    return ticks / _TICK


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class WorkerRss:
    """Samples the summed RSS of this run's PySpark Python worker
    processes (the daemon and its forked workers) on a thread, between
    ``start_window()`` and ``end_window()``, which returns the highest
    sum seen."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if not self._active.is_set():
                continue
            pids = [pid for pid, cmd in descendants().items()
                    if any(m in cmd for m in WORKER_MODULES)]
            total = sum(_rss(p) for p in pids)
            with self._lock:
                self.peak = max(self.peak, total)

    def start_window(self) -> None:
        with self._lock:
            self.peak = 0
        self._active.set()

    def end_window(self) -> float:
        """Close the window; returns its peak in MB."""
        self._active.clear()
        with self._lock:
            return self.peak / 1e6


def stop_spark_jvm() -> None:
    """Stop the active SparkContext and the py4j gateway JVM pyspark
    launched, and wait for the JVM to exit."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int, cmd: str) -> bool:
    """``pid`` still runs ``cmd`` and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            now = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z" and now == cmd


def reap(procs: dict[int, str], timeout: float = 20.0) -> list[int]:
    """Terminate whichever of ``procs`` (pid -> cmdline, taken before
    shutdown, so orphans re-parented away still count) are left, and
    wait until all are gone; returns the pids that had to be signalled."""
    left = [p for p, c in procs.items() if _alive(p, c)]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not any(_alive(p, procs[p]) for p in left):
                return left
            time.sleep(0.1)
    return left
