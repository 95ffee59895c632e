"""One Spark application per run: JVM launch, repeated session set-up,
process-tree CPU and memory accounting, and an orderly shutdown."""

from __future__ import annotations

import subprocess
import time

from . import common
from .trace import Tracer


def _warm_body(it):
    """Worker warm-up: import the extraction stack, then hold the slot
    briefly so every core's task runs in its own Python worker."""
    import time as _time

    import webextract.udfs  # noqa: F401
    import webextract.warc  # noqa: F401
    _time.sleep(0.2)
    yield from it


class SparkApp:
    """Owns the JVM, the current session and the set-up measurements."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spark = None
        self.jvm_pid = None
        self.setups: list[dict] = []
        self.jvm_launch_s = 0.0

    def launch_jvm(self) -> None:
        from pyspark import SparkContext
        t0 = time.perf_counter()
        SparkContext._ensure_initialized()
        self.jvm_launch_s = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid

    def setup(self) -> dict:
        """One set-up: ``pipeline.build_session`` (package shipping timed
        as its own span) plus one warm Python worker per core."""
        from webextract import pipeline
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        tracer = Tracer()
        with common.StealClock() as clock:
            t0 = time.perf_counter()
            with tracer.wrap(pipeline, "ship_package", "setup.ship"):
                spark = pipeline.build_session(
                    cpus=self.cpus, app="wxbench",
                    shuffle_partitions=self.cpus)
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            (spark.range(0, self.cpus, 1, self.cpus)
             .mapInPandas(_warm_body, "id long")
             .write.format("noop").mode("overwrite").save())
            t2 = time.perf_counter()
        ship = tracer.total("setup.ship")
        rec = {"session_s": t1 - t0 - ship, "ship_s": ship,
               "workers_s": t2 - t1, "total_s": clock.wall,
               "adjusted_s": clock.adjusted, "steal_frac": clock.steal_frac,
               "workers": len(common.python_workers(self.jvm_pid))}
        self.setups.append(rec)
        self.spark = spark
        return rec

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by the JVM, the PySpark daemon and its
        workers, and by the JVM alone."""
        return common.tree_cpu_s(self.jvm_pid)

    def worker_peak_rss_mb(self) -> float:
        return max((common.hwm_mb(p)
                    for p in common.python_workers(self.jvm_pid)),
                   default=0.0)

    def jvm_peak_rss_mb(self) -> float:
        return common.hwm_mb(self.jvm_pid)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
