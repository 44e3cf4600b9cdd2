"""Spark session and host probes for the benchmark.

Every file the run writes stays under the run's work directory inside
the checkout: Spark local dirs, the JVM temp dir, the SQL warehouse,
Python temp files and the indexes themselves.
"""

from __future__ import annotations

import os

# Driver heap cap. The engine's session default (24g) exceeds the host
# RAM of small boxes; the benchmark passes an explicit heap no larger
# than a quarter of host RAM.
DRIVER_MEM_CAP_MB = 3072


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    return min(DRIVER_MEM_CAP_MB, host_mem_mb() // 4)


def prepare_process_env(repo_root: str, work: str) -> None:
    """Point temp files at ``work`` and let Python workers import the
    checkout's ``konlspark``. Must run before the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no /tmp/hsperfdata_* from the JVMs that spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    # SPARK_LOCAL_DIRS takes precedence over spark.local.dir, which the
    # engine's session factory points at /dev/shm
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_spark(repo_root: str, work: str, cores: int, mem_mb: int):
    """Start ``local[cores]`` with the benchmark's static confs, then let
    ``konlspark.session.get_spark`` apply the engine's own SQL defaults
    to the running session (its static confs do not apply to a context
    that already exists, which keeps every file inside ``work``)."""
    from pyspark import SparkConf, SparkContext

    from konlspark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = (SparkConf()
            .setMaster(f"local[{cores}]")
            .setAppName("konlspark-perfbench")
            .set("spark.driver.memory", f"{mem_mb}m")
            .set("spark.ui.enabled", "false")
            .set("spark.ui.showConsoleProgress", "false")
            .set("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .set("spark.local.dir", os.path.join(work, "local"))
            .set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
            .set("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]))
    SparkContext(conf=conf)
    return get_spark("konlspark-perfbench", cores=cores,
                     driver_memory=f"{mem_mb}m")


def stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM (which takes its Python
    worker daemon with it) and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin from this process closes
        proc.stdin.close()
        proc.wait(timeout=60)


def effective_confs(spark) -> dict:
    """Core confs of the context plus every SQL conf set on the session."""
    confs = dict(spark.sparkContext.getConf().getAll())
    confs.update(spark.conf.getAll)
    return dict(sorted(confs.items()))


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, which in local mode
    is also the executor."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/<jvm>/status")


class CpuWindow:
    """Host CPU busy and steal shares between ``start`` and ``stop``,
    from the aggregate line of /proc/stat."""

    @staticmethod
    def _read():
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        idle = vals[3] + vals[4]
        steal = vals[7] if len(vals) > 7 else 0
        # guest time is already counted in user/nice
        total = sum(vals[:8])
        return total, idle, steal

    def __init__(self):
        self.t0 = self._read()

    def stop(self) -> dict:
        total1, idle1, steal1 = self._read()
        total0, idle0, steal0 = self.t0
        dt = max(1, total1 - total0)
        return {"cpu_busy_pct": 100.0 * (dt - (idle1 - idle0)) / dt,
                "steal_pct": 100.0 * (steal1 - steal0) / dt}
