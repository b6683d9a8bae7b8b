"""Host fitting and outside-in process measurement for the benchmark.

Everything here reads the machine, never the program: the driver heap is
derived from ``MemAvailable``, the master is ``local[nproc]``, and CPU time
and peak RSS come from ``/proc`` for a process and every process under it
(the benchmark's Python process, the driver JVM it launched, and the
JVM's Python worker daemon and forked workers).
"""

from __future__ import annotations

import os
import signal
import time

HEAP_CAP_MB = 3072
HEAP_FLOOR_MB = 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb() -> int:
    """A quarter of the memory available now, capped so that runs on a roomy
    host all get the same heap (GC behaviour, and so timings, depend on it)."""
    return max(HEAP_FLOOR_MB, min(HEAP_CAP_MB, mem_available_mb() // 4))


def host_info() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": nproc(), "mem_available_mb": mem_available_mb(), "loadavg": load}


def start_spark(work_dir: str, heap_mb: int, trace: bool):
    """Start a session through the program's own factory, overriding only
    what has to fit this host and this checkout: heap, master, temp dirs,
    console progress and status-store retention."""
    from wbkg.session import get_spark

    heap = f"{heap_mb}m"
    # the program's factory reads these; never inherit a big pinned heap or
    # AlwaysPreTouch from the caller's environment
    os.environ["WBKG_DRIVER_MEM"] = heap
    os.environ.pop("WBKG_PRETOUCH", None)
    # no JVM writes its perf-counter file under /tmp (hsperfdata)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    retained = "100000" if trace else "1000"
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.retainedJobs": retained,
        "spark.ui.retainedStages": retained,
        "spark.sql.ui.retainedExecutions": retained,
    }
    spark = get_spark("wbkg-perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched, and every process
    under the JVM, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = ProcTree(spark._jvm.ProcessHandle.current().pid())
    workers = [pid for pid in jvm._pids() if pid != jvm.root]
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the launched JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
    # the Python worker daemon exits once it notices the JVM is gone; the
    # workers are not this process's children, so poll /proc for them, and
    # signal the ones that stay
    for sig, grace_s in ((None, 2), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        alive = [pid for pid in workers if _alive(pid)]
        if not alive:
            return
        for pid in alive if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while any(_alive(pid) for pid in alive) and time.monotonic() < deadline:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class ProcTree:
    """CPU seconds and peak RSS of one process and all its descendants."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def _pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """utime+stime of each live process plus cutime+cstime, which holds
        the CPU of children it has already reaped (exited workers)."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's high-water RSS (VmHWM)."""
        kb = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024


class Clock:
    """Wall and tree-CPU stopwatch for one timed region."""

    def __init__(self, tree: ProcTree):
        self.tree = tree

    def __enter__(self):
        self.t0, self.c0 = time.perf_counter(), self.tree.cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = self.tree.cpu_s() - self.c0
        return False
