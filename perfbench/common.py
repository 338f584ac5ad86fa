"""Session lifetime, run hygiene and statistics shared by the workloads."""

from __future__ import annotations

import os
import statistics
import time


def start_session(workdir: str, cpus: int):
    """A ``get_spark`` session whose scratch files stay under ``workdir``."""
    from inde1_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in the system temp directory, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "4g",  # the machine is shared; the inputs are small
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_stats(spark) -> dict:
    """Peak RSS of the driver JVM and its total GC time so far."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_kb = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    peak_kb = int(line.split()[1])
    except OSError:
        pass
    gc_ms = sum(g.getCollectionTime()
                for g in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
    return {"spark.jvm_peak_rss_mb": peak_kb / 1024.0, "spark.gc_s": gc_ms / 1000.0}


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def calibration_s() -> float:
    """A fixed CPU-bound probe: the median of three timings of one loop."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_500_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def other_spark_jvms() -> int:
    """Java processes of Spark on this machine, counted before our own starts."""
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            n += 1
    return n


def hygiene() -> dict:
    load1, load5, _ = os.getloadavg()
    return {"nproc": cpu_count(), "loadavg_1m": load1, "loadavg_5m": load5,
            "calibration_s": calibration_s(), "other_spark_jvms": other_spark_jvms()}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten samples
    beyond it. Below 21 samples that percentile would not lie above the
    median, so the maximum (percentile 100) stands in for it."""
    v = sorted(values)
    if len(v) < 21:
        return v[-1], 100.0
    k = len(v) - 11
    return v[k], 100.0 * (k + 1) / len(v)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
