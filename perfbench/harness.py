"""Process-level plumbing shared by the workloads: a private work directory
inside the checkout, Spark session set-up, memory high-water mark, the box
stamp and an orderly shutdown of the JVM the session started."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import tempfile
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")


def prepare_env(root: Path, work: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the package importable by the Python workers. Must run
    before the first session starts."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # -XX:-UsePerfData: no hsperfdata files under the system temp dir
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()


def session_conf(work: Path, event_log: bool) -> dict[str, str]:
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if event_log:
        d = work / "eventlog"
        d.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(d),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def set_up(cores: int, conf: dict[str, str]):
    """Start the session in a fresh JVM, including the package's session
    warmup. Returns the session and the wall time of the start."""
    from scrapy_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """This Python process's ru_maxrss plus the JVM's VmHWM, in MiB."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB on Linux
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
                break
    return (py_kib + jvm_kib) / 1024.0


def last_job_id(spark, groups=()) -> int:
    """Id of the most recent Spark job (-1 before the first) among jobs
    without a job group and jobs in ``groups``. Ids are sequential per
    application, so the difference across an operation is the number of
    jobs it launched."""
    tracker = spark.sparkContext.statusTracker()
    ids = list(tracker.getJobIdsForGroup())
    for g in groups:
        ids += tracker.getJobIdsForGroup(g)
    return max(ids, default=-1)


def _stat(pid: str) -> list[str] | None:
    """Fields after the command name of /proc/<pid>/stat, or None when the
    process has ended: 1 is the parent pid, 11-14 are utime, stime, cutime
    and cstime in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its live descendants
    (the JVM and the Python workers it forks), each with its reaped children.
    The kernel charges hypervisor steal to no process, so this moves far
    less than wall time when other guests take the host's cores (on a 4-vCPU
    VM at 24% steal: +30% against +120%)."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        st = _stat(name) if name.isdigit() else None
        if st is not None:
            parent[int(name)] = int(st[1])
            ticks[int(name)] = sum(int(x) for x in st[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / CLK_TCK


def counters(spark, groups=()) -> dict[str, float]:
    """The running counters an operation is measured by: wall clock, CPU of
    the process tree, the JVM's JIT compile time (elapsed time of its
    compiler threads) and the last Spark job id."""
    jvm = spark.sparkContext._jvm
    comp = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return {
        "wall_s": time.perf_counter(),
        "cpu_s": tree_cpu_s(),
        "jit_s": comp.getTotalCompilationTime() / 1000.0,
        "jobs": float(last_job_id(spark, groups)),
    }


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def cpu_steal() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole box from /proc/stat; the
    share of steal between two readings is CPU time the hypervisor gave to
    other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def box_stamp() -> dict:
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
                break
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kib // 1024,
        "loadavg_1m": os.getloadavg()[0],
        "spark_version": pyspark.__version__,
    }


def shut_down(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF, taking its Python workers with it) and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
