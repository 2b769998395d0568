"""SparkSession factory tuned for the POI matchmaker engine.

Local-mode settings mirror what we would ship via ``spark-submit --py-files``
on a real cluster: AQE on (skew-join handling for mega-cells), Arrow enabled
for the pandas-UDF extraction path, shuffle partitions sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osm_poi_matchmaker_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. On a real cluster the
    same configs apply; only ``master`` changes (driven by spark-submit).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        ncores = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Simple (JVM) case mapping instead of ICU full case mapping:
        # measured 5x faster on lower()-heavy paths (the cascade's
        # case-insensitive join keys; thread dumps showed
        # CollationSupport$Lower.execBinaryICU as the top CPU frame), and
        # simple mapping is also what the DuckDB oracle applies — they
        # only diverge on locale-special cases (Turkish dotless i etc.)
        # that Hungarian Latin text never exercises.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

