"""Host sizing, the Spark session, the host stamp and driver-side RSS.

The session is sized from the host it runs on: ``local[<usable cores>]`` and
a driver heap of one eighth of RAM, clamped to 1-4 GiB, so the JVM, its
Python workers and the generated inputs fit a small shared machine. All of
Spark's scratch space (local dirs, warehouse, event log, JVM tmp) lives under
the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import time


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def driver_memory_mb() -> int:
    return max(1024, min(4096, ram_mb() // 8))


def process_start_epoch() -> float:
    """Wall-clock start of this process (kernel start time, so interpreter
    start-up is counted too)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def build_session(work: str, trace_dir: str | None = None):
    from pyspark.sql import SparkSession

    cores, mem = usable_cores(), driver_memory_mb()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The young generation has a fixed size (one eighth of the heap) and
    # the heap starts small, so the heap grows only as the old generation
    # must hold what the program retains and peak RSS follows that; G1's
    # adaptive young sizing moved peak RSS by up to 20% between runs of the
    # same job. C1-only JIT reaches its plateau after one job; with C2 a
    # 4-core host was still speeding up after nine pipeline jobs (14.3 s to
    # 5.2 s), more warm-up than a run can afford.
    jvm_opts = (f"-Djava.io.tmpdir={tmp} -Xmn{mem // 8}m "
                "-XX:TieredStopAtLevel=1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark_local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace_dir is not None:
        os.makedirs(trace_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", trace_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.sql.pyspark.udf.profiler", "perf"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_stamp(spark, resolved_impl: str) -> dict:
    jvm = spark._jvm
    return {
        "nproc": usable_cores(),
        "ram_mb": ram_mb(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "decode_auto_impl": resolved_impl,
    }


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


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])  # stat(5) fields 14-17


def cpu_s(spark) -> float:
    """CPU seconds used so far by this process, the driver JVM and every
    process below it. The kernel does not count time a hypervisor stole
    from the guest, so this does not grow when neighbours take the CPU."""
    own = os.times()
    ticks = sum(_cpu_ticks(pid) for pid in _tree(jvm_pid(spark)))
    return own.user + own.system + ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver JVM plus every process below it (the
    PySpark daemon and its Python workers), in MiB."""
    return sum(_hwm_kb(pid) for pid in _tree(jvm_pid(spark))) / 1024.0


def peak_mem_mb(spark) -> float:
    """Peak memory the program used, in MiB: the peak usage of each of the
    driver JVM's memory pools (heap generations, metaspace, code cache)
    plus the high-water RSS of every process below the JVM (the PySpark
    daemon and its Python workers).

    Heap pages G1 has committed but the program never filled are left out:
    how far G1 grows the old generation beyond its occupancy is a timing
    heuristic, and it moved the JVM's RSS by up to 25% between runs of the
    same job while the pools' peaks moved by 5%."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jvm_b = sum(p.getPeakUsage().getUsed()
                for p in mf.getMemoryPoolMXBeans())
    jvm = jvm_pid(spark)
    workers_kb = sum(_hwm_kb(pid) for pid in _tree(jvm) if pid != jvm)
    return jvm_b / (1024.0 * 1024.0) + workers_kb / 1024.0
