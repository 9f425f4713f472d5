"""SparkSession helpers with scale-appropriate defaults."""

from __future__ import annotations

import logging
import os
from urllib.parse import urlparse

log = logging.getLogger("headson_spark.session")

# read_widened gate: inputs at or above this size keep the plain scan
# (they already split into enough tasks); only tiny inputs pay the ~free
# re-spread exchange. 256 MB at 128 MB maxPartitionBytes = at most 2
# scan tasks wasted before the gate stops firing.
WIDEN_MAX_BYTES = 256 << 20


def read_widened(spark, path: str):
    """Read a parquet table, restoring scan parallelism for tiny inputs.

    Parquet row groups are the unit of split assignment (each scan task
    reads the row groups whose midpoint falls in its byte range), so a
    single-row-group file scans as ONE task no matter how many byte-range
    splits Spark creates — every pre-shuffle expression then runs on one
    core (guide §2.5 input skew / §6 input split size). The driver's sf
    tables are written exactly like that: one file, one row group. A
    round-robin repartition of an input under WIDEN_MAX_BYTES (read at
    call time) is a near-free exchange that restores full parallelism;
    at deployment scale (many files / many row groups, well past the
    gate) this is a no-op, so no shuffle is ever added to a large scan.

    ONLY safe for queries whose results are partitioning-invariant:
    row-local maps, integer/min/max/count aggregates, joins and windows
    with deterministic tie-breaks. Order-dependent float sums (their
    partial-aggregation tree changes with partitioning) must keep the
    plain read.

    A path with a URI scheme (file://, s3a://, hdfs://) or one that does
    not exist locally has no size the os module can see, so it counts as
    large and keeps the plain scan. Each call logs one INFO line on
    `headson_spark.session` with the size, the gate and the decision."""
    df = spark.read.parquet(path)
    nbytes = _local_bytes(path)
    widen = nbytes is not None and nbytes < WIDEN_MAX_BYTES
    log.info("read_widened %s: bytes=%s max_bytes=%d -> %s", path,
             "URI/non-local" if nbytes is None else nbytes,
             WIDEN_MAX_BYTES, "widened" if widen else "plain scan")
    if not widen:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def _local_bytes(path: str) -> int | None:
    """Total bytes under a local file or directory; None for a URI, a path
    that does not exist locally, or one that cannot be sized."""
    if urlparse(path).scheme or not os.path.exists(path):
        return None
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _, fs in os.walk(path) for f in fs)
    except OSError:
        return None


def get_spark(app: str = "headson_spark", master: str | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None):
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    b = (SparkSession.builder.appName(app).master(master)
         # local mode: the driver JVM hosts all executor threads — size it
         # for the box (128 GiB available), not Spark's 1g default
         .config("spark.driver.memory", driver_mem)
         .config("spark.driver.maxResultSize", "4g")
         # AQE: runtime coalescing + skew-join splitting — the first line of
         # defense for conv_id skew at 100 TB
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.shuffle.partitions", str(shuffle))
         # Arrow exchange for all pandas UDF / mapInPandas kernels
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         # timestamps in the transcript schema are UTC event time
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
