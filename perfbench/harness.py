"""Spark session, working directory, process-memory and host CPU-time
helpers of the benchmark. Everything a run writes stays under
``perfbench/.work``."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(tag: str) -> str:
    path = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def start_session(work: str) -> SparkSession:
    """``local[nproc]`` with the program's recommended configuration. The
    JVM's and the Python workers' scratch files go under ``work``; the
    workers import the program from the checkout."""
    from geohash_dotnet_spark.session import apply_recommended

    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too, keeps its files in ``tmp``
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    n = cpus()
    builder = (SparkSession.builder.master(f"local[{n}]")
               .appName("perfbench")
               .config("spark.driver.memory", "3g")
               .config("spark.local.dir", os.path.join(work, "local"))
               .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false"))
    spark = apply_recommended(builder, shuffle_partitions=2 * n).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and wait until its JVM (and with it every Python worker)
    has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)


def cached_mb(spark: SparkSession) -> float:
    """In-memory size of every cached table."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 2**20


def storage_mb(spark: SparkSession) -> float:
    """The memory the block manager may use for cached tables."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._1()
    return total / 2**20


def cpu_times() -> list[int]:
    """The machine's CPU time so far, in clock ticks, from ``/proc/stat``:
    user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def host_noise(before: list[int], after: list[int]) -> str:
    """The share of CPU time between two ``cpu_times`` that the hypervisor
    stole and that waited on I/O: a run with much of either was slowed by
    its host, not by the program."""
    delta = [b - a for a, b in zip(before, after)]
    total = max(sum(delta), 1)
    return (f"steal {100 * delta[7] / total:.1f} %, "
            f"iowait {100 * delta[4] / total:.1f} %")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark: SparkSession) -> float:
    """Sum of the peak resident set sizes (VmHWM) of the driver JVM and of
    every process under it: the Python worker daemon and its workers."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    kids = _children()
    total, stack = 0, [jvm]
    while stack:
        pid = stack.pop()
        total += _peak_rss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0
