"""The benchmark's own Spark session: host-sized, confined to the checkout.

Every path Spark, the JVM and the Python workers write to (shuffle and spill
files, temp files, warehouse, event logs) lives under the run's work
directory inside ``perfbench/.work``, which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
#: driver heap for a 15 GB host shared with other work (bench.py asks 48g)
DRIVER_MEMORY = "3g"


class RunEnv:
    """Work directory, environment and Spark lifecycle of one benchmark run."""

    def __init__(self) -> None:
        self.work = HERE / ".work" / f"run-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.tmp = self.work / "tmp"
        self.tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = str(self.tmp)
        # shuffle and spill files; this variable overrides spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        # the Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None

    def start(self, cores: int = CORES, event_log: bool = False):
        """Create the session (launching the JVM if none is running). With
        ``event_log`` (once per run) the application's event log goes to
        ``self.event_log_dir``."""
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={self.tmp}")
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
            .config("spark.sql.files.maxPartitionBytes", "8m")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        self.event_log_dir = None
        if event_log:
            self.event_log_dir = self.work / "events"
            self.event_log_dir.mkdir()
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_log_dir.as_uri())
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self, jvm: bool = False) -> None:
        """Stop the session; with ``jvm`` also end the JVM and wait for it."""
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        try:
            if spark is not None:
                spark.stop()
        finally:
            gw = SparkContext._gateway
            if jvm and gw is not None:
                SparkContext._gateway = None
                SparkContext._jvm = None
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)

    def close(self) -> None:
        try:
            self.stop(jvm=True)
        finally:
            _wait_children_gone()
            shutil.rmtree(self.work, ignore_errors=True)


def _wait_children_gone(timeout: float = 30.0) -> None:
    """Wait until no child process of this one is left (JVM, daemons)."""
    from tracing import child_pids

    deadline = time.monotonic() + timeout
    while child_pids().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
