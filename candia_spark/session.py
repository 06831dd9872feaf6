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
- A generated-code cache that holds the program's working set
  (``spark.sql.codegen.cache.maxEntries``). Spark's default of 100 entries
  is smaller than the classes one corpus pass generates, so Janino
  recompiled every plan on every pass; with the larger cache a plan shape
  compiles once per JVM.
- PySpark's DataFrame debugging off
  (``spark.python.sql.dataFrameDebugging.enabled``). When on, every
  ``F.*`` and ``Column`` call walks the Python stack and makes about six
  extra py4j calls to record its file:line; off, error messages lose only
  that "DataFrame context".

Both are static confs, fixed when the session starts, so a session built
elsewhere (the plain one ``__spark_entry__.entry`` is handed) gets neither.

One more saving is not a conf and so reaches every session in the
process: :func:`keep_py4j_lookups` stores py4j's resolved classes,
packages and static methods, which pyspark otherwise looks up again, one
driver-JVM round trip each, on every ``F.*`` call and every ``_to_seq``.
"""

from __future__ import annotations

import os

from py4j import java_gateway
from pyspark.sql import SparkSession


def keep_py4j_lookups() -> None:
    """Make py4j keep each class, package and static-method lookup.

    ``JVMView``, ``JavaPackage`` and ``JavaClass`` resolve every attribute
    read with a reflection command to the JVM and return a fresh proxy;
    pyspark reads ``_jvm.org.apache.spark.sql.functions.col``,
    ``_jvm.PythonUtils.toSeq`` and the like on every call. The wrapper
    stores a resolved ``JavaClass``, ``JavaPackage`` or static-method
    ``JavaMember`` in the instance's ``__dict__``, so the next read of the
    name is a plain attribute hit and never reaches ``__getattr__``.

    - A static field's value is never stored (it can change), nor is a
      failed lookup.
    - The store lives on the view and its proxies, so a new gateway (a
      stopped and restarted session) starts empty.
    - A view only resolves a bare name such as ``PythonUtils`` against
      its imports, so ``java_import`` drops what that view stored.

    Installed once per process; calling it again does nothing.
    """
    if getattr(java_gateway.JavaClass.__getattr__, "_keeps_lookups", False):
        return
    kept = (
        java_gateway.JavaClass, java_gateway.JavaPackage, java_gateway.JavaMember
    )

    def keeping(lookup):
        def __getattr__(self, name):
            value = lookup(self, name)
            if isinstance(value, kept):
                self.__dict__[name] = value
            return value

        __getattr__._keeps_lookups = True
        return __getattr__

    for cls in (java_gateway.JVMView, java_gateway.JavaPackage, java_gateway.JavaClass):
        cls.__getattr__ = keeping(cls.__getattr__)
    java_import = java_gateway.java_import

    def forgetting_import(jvm_view, import_str):
        for name, value in list(vars(jvm_view).items()):
            if isinstance(value, kept):
                del jvm_view.__dict__[name]
        return java_import(jvm_view, import_str)

    java_gateway.java_import = forgetting_import


# Generated-code cache entries (Spark's default is 100). Distinct classes
# compiled with an effectively unbounded cache, on 4 cores: one perfbench
# `corpus` pass 268, `pipeline` 161, `relational` 146, and one `bench.py`
# pass over all 131 queries at sf0.1 2,170 (warmup included). 4096 holds
# the largest with about 1.9x headroom. An entry keeps its source (mean
# 5.5-7.7 KB) and about 2.4 loaded classes of 2.2-2.8 KB each, so a full
# cache is about 60 MB of a multi-GB driver.
CODEGEN_CACHE_ENTRIES = 4096


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
    keep_py4j_lookups()
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far: each is a miss of the
    codegen cache. Read from Spark's ``CodegenMetrics``; starts no job."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
