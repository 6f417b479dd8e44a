"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB target; the default local master uses
``SPARK_GRAFT_CPUS`` or else every core of the host:
- AQE on (runtime partition coalescing + skew-join splitting),
- Arrow on for every pandas-UDF boundary,
- explicit shuffle partition count (overridable; AQE coalesces down),
- broadcast threshold left to Spark but joins that are known-small are
  explicitly ``F.broadcast``-ed at call sites.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "text_to_graph_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep catalog state (bucketed saveAsTable etc.) out of the cwd:
        # the default warehouse dir is ./spark-warehouse, which would
        # pollute the repo when tests exercise the bucketed-join path
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/t2g_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    _warmup_collation(spark)
    return spark


def _warmup_collation(spark: SparkSession) -> None:
    """Force the one-time static init of Spark 4's ICU collation support.

    The first executed ``lower()``/``upper()`` triggers
    ``CollationAwareUTF8String`` class initialization (~5 s of ICU data
    loading); when it first happens inside a 32-task stage every task blocks
    on the class-init monitor and the convoy stretches to ~60 s of wall time
    (measured via jstack on this box). One tiny warm-up job pays the cost
    once, single-threaded, at session creation — on a cluster the same
    pattern belongs in the executor plugin/startup path.
    """
    from pyspark.sql import functions as F

    try:
        spark.range(1).select(
            F.lower(F.concat(F.lit("Warm"), F.col("id").cast("string")))
        ).collect()
    except (PySparkException, Py4JError) as e:
        # best-effort: a failed warm-up only means the first real lower()
        # pays the class init, so it must not fail session creation
        log.warning("collation warm-up failed: %s", e)


def ensure_min_partitions(df, min_partitions: int | None = None):
    """Guarantee a DataFrame has enough partitions to use the cluster.

    The sandbox fixture tables are single small parquet files, so a scan
    yields ONE partition and every downstream pandas-UDF stage would run on
    one core no matter the master (measured: the whole sf0.1 pipeline on 1
    of 32 cores). Production inputs (Iceberg, many files, 100 TB) give scan
    parallelism for free — this guard only round-robins *small* inputs up to
    ``defaultParallelism`` and is a no-op whenever the scan already has
    enough partitions, so it never adds a shuffle at real scale.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # partition count via the JVM execution handle — df.rdd would force a
    # full plan-to-RDD conversion just to ask a number
    n = df._jdf.rdd().getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally-created session.

    The correctness driver hands us its own session; make sure the knobs that
    affect semantics (ANSI-off nulls, UTC) and pandas-UDF transport are set.
    """
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ]:
        try:
            spark.conf.set(k, v)
        except PySparkException as e:
            # static conf on a running session: keep the caller's value
            log.warning("cannot set %s=%s on this session: %s", k, v, e)
    _warmup_collation(spark)
    return spark
