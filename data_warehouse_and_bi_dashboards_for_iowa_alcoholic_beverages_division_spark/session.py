"""SparkSession factory with scale-aware defaults.

The reference runs stock Spark with zero ``spark.sql.*`` tuning
(``/root/reference/yarn/spark-defaults.conf`` sets only master/memory).
We instead pin the knobs that matter at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- shuffle partitions sized to the local core count (on a real cluster
  this would be ~2-3x total executor cores; AQE coalesces down)
- Arrow enabled for the few Pandas-UDF paths (vectorized transfer)
- session timezone pinned to UTC so results are reproducible and
  comparable against external engines (DuckDB oracle)

Driver code reaches the JVM through py4j, one gateway round trip per
step. :func:`jvm_class` and :func:`jobs_submitted` keep the handles
they resolve, so a repeated call does not walk to them again, and
:func:`gateway_calls` counts the round trips a block makes.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


# (gateway client, fully qualified class name) -> class handle
_JVM_CLASSES: dict[tuple[object, str], JavaClass] = {}
# the JVM ``DAGScheduler`` of each live SparkContext
_DAG_SCHEDULERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def jvm_class(spark: SparkSession, fqn: str) -> JavaClass:
    """The JVM class ``fqn`` (``"org.apache.hadoop.fs.Path"``), one
    handle per gateway. ``spark._jvm.org.apache.hadoop.fs.Path`` asks
    the gateway about each package step, five round trips before the
    class is used; the handle is made without asking, and a name that
    is no class fails where it is first used."""
    client = spark._jvm._gateway_client
    cls = _JVM_CLASSES.get((client, fqn))
    if cls is None:
        cls = _JVM_CLASSES[client, fqn] = JavaClass(fqn, client)
    return cls


def jobs_submitted(spark: SparkSession) -> int:
    """Jobs the session's scheduler has ever been handed, counted when
    they are submitted, so no queued job is missed: one round trip."""
    sc = spark.sparkContext
    dag = _DAG_SCHEDULERS.get(sc)
    if dag is None:
        dag = _DAG_SCHEDULERS[sc] = sc._jsc.sc().dagScheduler()
    return dag.numTotalJobs()


@contextmanager
def gateway_calls(spark: SparkSession) -> Iterator[list[int]]:
    """Count the py4j round trips made inside the block (``[n]``). The
    memory-delete commands (``m\\nd\\n…``) py4j sends when Python frees a
    JVM proxy are not counted: when they fire depends on Python's
    garbage collector, not on the code in the block."""
    client = spark.sparkContext._gateway._gateway_client
    inner = client.send_command
    n = [0]

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return inner(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield n
    finally:
        del client.send_command


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "iowa-warehouse-engine", cores: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for local testing of
    cluster-shaped plans.

    Every config here is also the right *direction* on a 1000-executor
    cluster; only the magnitudes (shuffle partitions, broadcast
    threshold) would be re-tuned per deployment.
    """
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # -- shuffle & parallelism ------------------------------------
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        # -- adaptive query execution ---------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- broadcast: all six reference dims are small; 64 MB leaves
        #    headroom for dimension growth at 100 TB fact scale
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- arrow for pandas-UDF paths (dedup/similarity/multimodal) --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- reproducibility vs the DuckDB oracle ---------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- parquet scan sizing: 128 MB splits is the scale default --
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
