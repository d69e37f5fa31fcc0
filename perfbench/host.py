"""Spark session lifecycle, memory and host readings for one benchmark run.

Everything the run writes stays under its work directory inside the
checkout: Spark's local dirs, the JVM and Python temp dirs and the index
root.  The JVM heap is fixed (``-Xms`` = ``-Xmx``, pre-touched), so its
resident size does not drift with the order in which the heap grows.
"""

from __future__ import annotations

import os
import signal
import time

HEAP = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str, root_dir: str):
    """A ``local[nproc]`` session configured like the CLI's (AQE on, no UI),
    plus the benchmark's noise controls."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import the package from the checkout; temp files of
    # this process, the JVM and the workers stay inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root_dir, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = None

    from pyspark.sql import SparkSession

    java_opts = (
        f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus()}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        # a few tasks per core: the index is small
        .config("spark.sql.shuffle.partitions", str(2 * cpus()))
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Sum of kernel peak RSS (VmHWM) of this driver process, the JVM and
    the JVM's Python workers alive now; read once, no sampling."""
    pid = jvm_pid(spark)
    pids = [os.getpid(), pid, *descendants(pid)]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def jvm_gc_ms(spark) -> float:
    mx = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(g.getCollectionTime() for g in mx.getGarbageCollectorMXBeans()))


def jvm_heap_retained_mb(spark) -> float:
    """Heap in use right after a full GC."""
    spark._jvm.java.lang.System.gc()
    mx = spark._jvm.java.lang.management.ManagementFactory
    return mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers to
    exit (killing any that outlive a grace period)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    pids = [jvm_pid(spark)]
    pids += descendants(pids[0])
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 15
        time.sleep(0.05)


def cpu_probe_ms() -> float:
    """Time of a fixed pure-Python loop: how fast the host runs right now."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    return (time.perf_counter() - t0) * 1000.0


class HostReadings:
    """CPU steal share, load average and CPU probe times over a run, as
    diagnostics."""

    def __init__(self):
        self._cpu0 = self._cpu()
        self.load_start = os.getloadavg()[0]
        self.probe_start = cpu_probe_ms()

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]

    def finish(self) -> dict:
        cpu1 = self._cpu()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        return {
            "steal_pct": round(100.0 * d[7] / max(1, sum(d)), 3),
            "load_start": round(self.load_start, 2),
            "load_end": round(os.getloadavg()[0], 2),
            "cpu_probe_ms": [round(self.probe_start, 1), round(cpu_probe_ms(), 1)],
            "cpus": cpus(),
        }
