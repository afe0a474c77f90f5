"""Host facts, the Spark session config derived from them, and resource
readings of the benchmark's own process tree.

CPU time and peak memory come from /proc/<pid>/stat and /proc/<pid>/status
of this process and its descendants (the JVM, the PySpark daemon and its
Python workers), never from host-wide counters, which also count the
neighbours on a shared machine.
"""

from __future__ import annotations

import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    """CPUs this process may run on and the machine's MemTotal."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def session_conf(host: dict, workdir: str, event_log_dir: str | None) -> dict:
    """Spark config for `get_spark(extra_conf=...)`, sized to the host.

    The driver heap is a quarter of MemTotal (the JVM is the only executor
    in local mode, and the machine is shared), capped at 8 GB. All scratch
    space lives under `workdir`. `event_log_dir` turns the uncompressed
    event log on, which only traced runs do.
    """
    heap_gb = max(1, min(8, host["mem_total_mb"] // 4 // 1024))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we listed /proc
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcTree:
    """Readings over this process and everything it started."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def descendants(self) -> list[int]:
        return [p for p in _tree(self.root) if p != self.root]

    def cpu_s(self) -> float:
        """utime+stime+cutime+cstime summed over the live tree. A child that
        exited was reaped by a parent in the tree, whose cutime/cstime now
        holds its whole lifetime, so differences of two readings count it."""
        ticks = 0
        for pid in _tree(self.root):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[0] is state (stat field 3): utime..cstime are 14..17
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK_TCK

    def reset_peaks(self) -> None:
        """Restart every process's VmHWM at its current RSS (clear_refs 5)."""
        for pid in _tree(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> dict:
        """VmHWM since the last reset: the largest of the Python processes
        (this driver and the Spark Python workers) and the JVM's."""
        py, jvm = 0.0, 0.0
        for pid in _tree(self.root):
            comm = _comm(pid)
            if comm.startswith("python"):
                py = max(py, _hwm_mb(pid))
            elif comm == "java":
                jvm = max(jvm, _hwm_mb(pid))
        return {"python": py, "jvm": jvm}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 60.0) -> None:
    """Wait until every process in `pids` has exited; SIGKILL what is left
    after `timeout` and wait for that too."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector so far, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000
