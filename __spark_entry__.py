"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All query implementations live in ``aegisthus_spark.queries`` (and the
operator modules it pulls in); this file is just the contract surface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine settings to a driver-provided session (idempotent)."""
    # Each conf is set independently: one rejected key must not skip the rest
    # (inferTimestampNTZ in particular decides whether naive parquet
    # timestamps surface as TIMESTAMP_NTZ, which unix_micros() rejects).
    for key, val in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.execution.replaceHashWithSortAgg", "true"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # non-mutable conf on some deployments; queries still run
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full compaction semantics (LWW + cell/range/row
    tombstones + empty-row preservation) over a cell stream at sf0.001."""
    from aegisthus_spark.queries import REGISTRY

    _configure(spark)
    return REGISTRY["aeg_compact"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from aegisthus_spark.queries import REGISTRY

    return {name: (lambda s, d, _f=q.fn: _f(_configure(s), d)) for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted => rows-only check)."""
    from aegisthus_spark.queries import REGISTRY

    return {name: q.sql for name, q in REGISTRY.items() if q.sql is not None}
