"""Spark session lifecycle for one benchmark run.

Starts the program's session through ``session.get_spark`` (timing it
as the run's set-up), exposes the JVM-side counters the benchmark
reports (peak resident memory, cumulative GC time) and stops the
session so that the JVM and its Python workers have exited before the
run ends.
"""

from __future__ import annotations

import subprocess
import time

#: The first action a fresh session runs, so that set-up includes the
#: work every later action would otherwise pay once.
FIRST_ACTION_ROWS = 1000
#: Jobs and stages the traced run's status store keeps (default 1000):
#: enough for every job of a run.
UI_RETAINED = 20000


class Engine:
    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.get_spark_s = 0.0
        self.cores = 0

    def start(self) -> None:
        from ursa_major_choir_etl_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            # the status store behind the REST API is the per-stage
            # source of the traced metrics
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": str(UI_RETAINED),
                "spark.ui.retainedStages": str(UI_RETAINED),
                "spark.sql.ui.retainedExecutions": str(UI_RETAINED),
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.spark.range(FIRST_ACTION_ROWS).count()
        self.cores = self.spark.sparkContext.defaultParallelism

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        """``VmHWM`` of the local-mode JVM (driver and executors)."""
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def gc_ms(self) -> float:
        """Cumulative collection time over every JVM garbage collector."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()))

    def release(self) -> int:
        """Drop what an op left cached, the way ``bench.py`` does between
        queries; returns how many staged frames ``release_staged`` freed."""
        from ursa_major_choir_etl_spark.caching import release_staged

        staged = release_staged()
        self.spark.catalog.clearCache()
        for jrdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
        return staged

    def stop(self, timeout: float = 60.0) -> None:
        """Stop the session and wait until the JVM process has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        # the JVM exits when the pipe to its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
