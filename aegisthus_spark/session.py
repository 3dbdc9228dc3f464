"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to also
hold on a large cluster: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for the Python<->JVM hop, explicit shuffle-partition
sizing instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "aegisthus_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("AEGISTHUS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # an aggregate whose input already arrives sorted on its grouping
        # keys streams as a SortAggregate (compact() relies on this)
        .config("spark.sql.execution.replaceHashWithSortAgg", "true")
        # the bench events table carries TIMESTAMP(NANOS) parquet columns,
        # which Spark only reads as raw longs (SPARK-40819)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # testdata timestamps are naive timestamp[us]; read them as LTZ
        # (session tz is UTC) so unix_micros/timestamp comparisons work and
        # semantics match DuckDB's naive-timestamp reading
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Load the bench parquet tables and register them as temp views.

    Returns a dict name -> DataFrame.
    """
    names = tables or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
