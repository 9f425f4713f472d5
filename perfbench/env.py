"""Run environment pinned from the benchmark's own files.

`headson_spark.session.get_spark` defaults to 32 CPUs and a 24g driver
heap, which fit neither this benchmark's host nor its purpose. Everything
Spark, the JVM and the Python workers write goes under the work
directory inside the checkout.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin() -> None:
    """Environment for the driver JVM and the Python workers; call before
    pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # mapInPandas workers import headson_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # also reaches the spark-submit launcher JVM; no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark():
    """A local[nproc] session with as many shuffle partitions as cores."""
    from headson_spark.session import get_spark
    n = cpus()
    log4j = os.path.join(HERE, "log4j2.properties")
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra={
            "spark.driver.memory": DRIVER_MEM,
            "spark.driver.extraJavaOptions":
                f"-Dlog4j2.configurationFile=file:{log4j}",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark
