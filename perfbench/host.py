"""Host facts and the Spark session the benchmark runs on.

The session is sized from the host (``local[nproc]``, driver memory from
/proc/meminfo) while everything that shapes the index layout is a
constant, so bytes and counts read the same on any box. All scratch that
Spark, the JVM and Python write goes under the benchmark's cache
directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time

# Layout constants: independent of the host on purpose.
N_BUCKETS = 4
SHUFFLE_PARTITIONS = 4


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A sixteenth of the host's memory, within [1, 4] GiB: the corpora
    are small, the host is shared, and a heap far above the working set
    makes the JVM's resident size wander with its GC sizing."""
    return max(1024, min(4096, mem_total_mb() // 16))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    all its descendants, including descendants already reaped."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # after the comm field: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14), zero-based
        stats[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats[pid][1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def isolate_scratch(cache_dir: str) -> None:
    """Point every temp/scratch location at ``cache_dir`` before the JVM
    starts (the JVM and its Python workers inherit this environment)."""
    tmp = os.path.join(cache_dir, "tmp")
    local = os.path.join(cache_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Session:
    """One Spark session on ``local[nproc]`` plus the handles needed to
    measure it (JVM pid) and to stop it completely."""

    def __init__(self, cache_dir: str):
        from search_engine_framework_spark.session import get_spark

        self.cores = cores()
        self.driver_memory_mb = driver_memory_mb()
        tmp = os.path.join(cache_dir, "tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": f"{self.driver_memory_mb}m",
                "spark.sql.warehouse.dir": os.path.join(cache_dir, "warehouse"),
                # -XX:-UsePerfData: no hsperfdata file under /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                    "-XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._proc = self.sc._gateway.proc

    def peak_rss_mb(self) -> float:
        """Summed VmHWM of this Python driver and the Spark JVM."""
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self._proc.pid)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this driver and its descendants:
        the JVM and the JVM's Python workers."""
        return tree_cpu_s(os.getpid())

    def facts(self) -> dict:
        import pyarrow
        import pyspark

        return {
            "cores": self.cores,
            "mem_total_mb": mem_total_mb(),
            "driver_memory_mb": self.driver_memory_mb,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "n_buckets": N_BUCKETS,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
        }

    def stop(self) -> None:
        """Stop the context, then close the JVM's stdin (its exit signal)
        and wait for the process to end."""
        from pyspark import SparkContext

        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if self._proc.stdin is not None:
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)
