"""SparkSession factory with the scale-oriented defaults this engine assumes.

Local mode here is the test harness; the configs are chosen to be the ones
that also hold on a 1000-executor cluster: AQE on (runtime coalesce + skew
split), Arrow transfer for every pandas UDF, explicit shuffle parallelism,
UTC session time.

The driver JVM that ``get_spark`` launches starts from a class-data
sharing archive that the engine records itself (``cds.py``); a session
created under ``spark-submit``, or while a JVM is already running,
launches none and leaves the environment alone.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds


def get_spark(app: str = "ocr_module_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the default 100 entries plateau at ~68 (4 Guava segments), so a
        # chain run twice in one JVM recompiled ~130 classes the 2nd time
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # shuffle/spill scratch dir is strictly opt-in (SPARK_GRAFT_LOCAL_DIR):
    # defaulting to /dev/shm would silently cap spill capacity at ~50% of
    # RAM and change behavior based on tmpfs presence. The bench scripts
    # pass it explicitly (VM disks are slow/spiky); a real cluster uses
    # local NVMe via spark.local.dir cluster config.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    extra_conf = dict(extra_conf or {})
    launch = _archive_plan(extra_conf)
    if launch is not None:
        # defaultJavaOptions: a caller's extraJavaOptions would replace
        # the engine's flags there; the launcher puts both on the command
        key = "spark.driver.defaultJavaOptions"
        extra_conf[key] = " ".join(
            filter(None, [launch.java_opts, extra_conf.get(key)]))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = _launch(builder, launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _archive_plan(conf: dict[str, str]) -> cds.Plan | None:
    """How the JVM that getOrCreate is about to launch with the session
    conf ``conf`` uses the archive; None when it launches none (a JVM is
    running, or spark-submit's gateway is) or the temp dir cannot hold
    one."""
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        return None
    from pyspark.find_spark_home import _find_spark_home
    try:
        return cds.plan(_find_spark_home(), conf=conf)
    except OSError:  # e.g. a read-only temp dir
        return None


def _launch(builder, launch: cds.Plan | None) -> SparkSession:
    """getOrCreate, with ``SPARK_CONF_DIR`` pointed at ``launch``'s conf
    dir only while the JVM starts, and the recording published when the
    JVM exits."""
    if launch is None or launch.conf_dir is None:
        spark = builder.getOrCreate()
    else:
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = launch.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old
    if launch is not None and launch.part is not None:
        cds.publish_at_exit(SparkContext._gateway.proc, launch)
    return spark
