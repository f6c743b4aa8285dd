"""Pieces shared by the workloads: the Spark session and latency
statistics."""

from __future__ import annotations

import os
import statistics
import subprocess
import tempfile
import time

YOUNG_GEN = "768m"


def start_spark(app: str, work: str, event_log_dir: str | None):
    """The program's session on ``local[<cores>]``, with every scratch file
    of Spark, the JVM and Python under ``work``; a traced run adds the
    event log. Returns (spark, seconds to first finished job)."""
    from openapc_olap_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # both JVMs (the launcher and the engine) read this. A fixed young
    # generation: with the collector's adaptive sizing the heap grew by how
    # long its pauses happened to take on a busy host, and peak RSS of the
    # same run varied from 3.6 to 5.5 GB
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       f"-Xmn{YOUNG_GEN}")
    tempfile.tempdir = tmp
    confs = {"spark.local.dir": tmp}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                      "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, master=f"local[{os.cpu_count() or 1}]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def p50(values: list[float]) -> float:
    """The median; 0 for no samples (a run without samples of a class is
    reported as failed)."""
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (percentile, value, sample count); NaN when fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return float("nan"), float("nan"), n
    s = sorted(values)
    k = n - 11                       # s[k] has n - 1 - k = 10 samples above
    return 100.0 * (k + 1) / n, s[k], n
