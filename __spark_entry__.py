"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``candia_spark`` package; this module only
adapts it to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> SparkSession:
    """Apply session confs the engine relies on (the driver owns the session),
    and keep py4j's lookups (``session.keep_py4j_lookups``), which needs no
    conf and so reaches the driver's session too."""
    from candia_spark.session import keep_py4j_lookups

    keep_py4j_lookups()
    try:
        # On Spark <= 4.0 this makes events.parquet (TIMESTAMP(NANOS)) read
        # as long nanos; on 4.1+ it silently no-ops and the column reads as
        # timestamp_ntz. NOT load-bearing either way: tables.load_table
        # normalizes whichever representation comes back to long nanos.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # the driver's vanilla session defaults to 200 shuffle partitions —
        # pure scheduling latency at test scale; AQE coalesces anyway but
        # starting near core count avoids 200-task waves per exchange.
        import os

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        if not cpus.isdigit():
            cpus = str(os.cpu_count() or 32)
        spark.conf.set("spark.sql.shuffle.partitions", cpus)
    except Exception:
        pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from candia_spark.plans.queries import q01_pricing_summary

    return q01_pricing_summary(_configure(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from candia_spark.plans.queries import queries as _queries

    return {
        name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir))
        for name, fn in _queries().items()
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    from candia_spark.plans.queries import oracle_sql as _oracle_sql

    return _oracle_sql()
