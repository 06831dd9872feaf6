"""SparkSession construction tuned for both local testing and cluster scale.

The reference configures Spark ad hoc per script (local[*], 2.5G executor,
10G driver; scripts/util/split_csv_maps_to_slices.py:32-36). Here one builder
applies scale-aware defaults everywhere:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  replaces the reference's manual ``repartition().coalesce(1)`` pattern it
  itself warns about (split_csv_maps_to_slices.py:90-92).
- Arrow execution on for all pandas UDF exchange (the grouped numeric
  kernels stream through Arrow batches, not pickled rows).
- Shuffle partitions sized to cores locally; on a real cluster the AQE
  coalescing makes the static number mostly irrelevant.
- Python workers forked from ``candia_spark.worker_daemon``
  (``spark.python.daemon.module``), which stops each task from re-reading
  the central directories of ``pyspark.zip`` and the Spark jar: about
  0.2 s off every Python task. Workers already import ``candia_spark``
  (UDF closures pickle its functions by reference), so this adds no
  requirement. A session built elsewhere, such as the plain session
  ``__spark_entry__.entry`` is handed, keeps pyspark's own daemon: the
  conf is fixed once the SparkContext starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "candia_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a real cluster, pass ``master=None`` with ``spark.master``
    preset in the environment and this function leaves it alone.
    ``extra_conf`` overrides any key set here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic session timezone so timestamp-derived keys hash
        # identically against the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Spark <= 4.0: read TIMESTAMP(NANOS) parquet as raw nanosecond
        # longs. Spark 4.1+ ignores this conf and reads timestamp_ntz;
        # tables._normalize_event_ts converts either representation back to
        # long nanos, so the engine's `ts div 1000 == epoch_us(ts)`
        # convention holds on every Spark. Kept for old-Spark determinism.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "candia_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
