"""Process-level plumbing shared by the workloads: the Spark session
(confined to the run's work directory), host contention record, peak RSS
and a clean stop of the JVM the session launched."""

from __future__ import annotations

import os
import subprocess
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_record() -> dict:
    """Contention evidence: load average, a fixed-work single-thread CPU
    control whose time grows with contention but not with any engine
    change, and the CPU tick counters (steal = time a hypervisor gave this
    machine's CPUs to someone else)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_control_s": time.perf_counter() - t0,
        "steal_ticks": ticks[7],
        "total_ticks": sum(ticks),
    }


def steal_frac(start: dict, end: dict) -> float:
    total = end["total_ticks"] - start["total_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0


def confine_temp(work: str) -> None:
    """Point every temp-file user (Python, py4j launch, the JVMs, Spark's
    block manager — ``SPARK_LOCAL_DIRS`` overrides ``spark.local.dir``)
    inside ``work``. The launcher JVM that spark-submit starts first takes
    only ``SPARK_LAUNCHER_OPTS``; without it that JVM writes its perf data
    under the system temp directory."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def start_spark(work: str, *, event_log: bool):
    from pipelinewise_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="cdcbench", master=f"local[{cores()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def rss_peak_mb() -> float:
    """Peak resident set of this Python driver plus its JVM, in MB."""
    kb = _hwm_kb(os.getpid())
    proc = _jvm_proc()
    if proc is not None and proc.poll() is None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
