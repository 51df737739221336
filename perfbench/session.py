"""The one Spark session a benchmark run measures.

``build_session`` is used with the program's defaults except for three
settings: the driver heap (``HTMPARK_DRIVER_MEM``; the 16g default exceeds
a small host's RAM), the UI (off, console progress bar included) and the
event log (on, uncompressed, into the run's work directory, in every run
so traced and untraced sessions are configured alike).  Scratch space of the JVM, Spark
and Python is pointed into the work directory so a run writes nowhere
outside the checkout.
"""
from __future__ import annotations

import os
import sys
import tempfile

DRIVER_MEM = "2g"


def prepare_env(root: str, work: str) -> None:
    """Set the process environment before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["HTMPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)


def open_session(work: str, cores: int):
    from htmpark.job import build_session

    events = os.path.join(work, "eventlog")
    os.makedirs(events, exist_ok=True)
    spark = build_session(f"local[{cores}]", app_name="htmpark-perfbench",
                          extra_conf={
                              "spark.ui.enabled": "false",
                              "spark.ui.showConsoleProgress": "false",
                              "spark.eventLog.enabled": "true",
                              "spark.eventLog.dir": "file://" + events,
                              # plain JSON lines: readable without a codec
                              "spark.eventLog.compress": "false",
                          })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
