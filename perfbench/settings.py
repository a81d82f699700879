"""Every Spark and environment setting the benchmark pins, in one place.

The benchmark does not inherit ``bench.py``'s choices: that script
defaults to 32 cores, a 48 GB driver heap and ``count()`` timing.
Here the session is sized for the machine it runs on (``local[nproc]``
and a heap that fits a small box), and every working file lives under
``.bench_work/`` in the checkout so a run reads and writes nothing
outside it.
"""

from __future__ import annotations

import os
import shutil
import signal
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".bench_work")

CORES = os.cpu_count() or 1
DRIVER_MEMORY = "3g"
# pinned, not derived from the core count, so plan shapes do not change
# with the machine; 8 (the test session's value) made crawl waves slower
# on 4 cores
SHUFFLE_PARTITIONS = 4

# environment for the re-exec'd benchmark process; Spark's Python
# workers inherit it from the JVM, so they import the engine from the
# checkout and hash strings identically
PINNED_ENV = {
    "PYTHONHASHSEED": "0",
    "PYTHONPATH": ROOT,
    "PYSPARK_PYTHON": "python3",
    "OMP_NUM_THREADS": "1",
}


class WorkDir:
    """A per-run scratch tree under ``.bench_work``: Spark's local dirs,
    temp files, the event log, catalogs and generated inputs.  Removed
    on close."""

    def __init__(self, tag: str):
        self.path = os.path.join(WORK_BASE, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("local", "tmp", "eventlog", "data", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["TMPDIR"] = self.sub("tmp")

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def make_spark(work: WorkDir, app: str, event_log: bool):
    from pyspark.sql import SparkSession

    tmp = work.sub("tmp")
    builder = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName(app)
        .config("spark.driver.memory", DRIVER_MEMORY)
        # -Xms = -Xmx: the heap does not resize mid-run.  Left to the
        # JVM's sizing, the crawl's peak RSS varied from 2.7 to 4.3 GB
        # between runs; pinned, peak_rss_mb mostly reads this setting
        # (see NOTES.md)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work.sub("local"))
        .config("spark.sql.warehouse.dir", work.sub("warehouse"))
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        builder = (
            builder.config("spark.eventLog.dir",
                           "file://" + work.sub("eventlog"))
            .config("spark.eventLog.compress", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, the PySpark daemon and its workers) has exited."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
