"""The pinned run environment, shared by the benchmark and its set-up
probe.

- cores: ``local[N]`` with N = min(4, cpus), and the engine's
  ``SPARK_GRAFT_CPUS`` (its shuffle-partition default) set to match;
- ``SPARK_DRIVER_MEMORY``: 2g (the engine's own default is 48g, more
  than a small shared machine has);
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir``:
  inside the run's work directory, and ``-XX:-UsePerfData`` for every
  JVM (HotSpot otherwise writes ``/tmp/hsperfdata_*``), so a run
  writes only inside its checkout.
"""

from __future__ import annotations

import os
import time

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"


def pin(work: str) -> None:
    """Set the environment before pyspark launches a JVM."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )


def start_session(app: str):
    """Launch the JVM and return ``(session, seconds)``: the engine's
    ``get_spark`` timed from the call to its return."""
    from nessus_client_etl_scripts_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    t0 = time.perf_counter()
    spark = get_spark(app, master=f"local[{CORES}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
