"""Load the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an ``sf`` directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType, TimestampType

TABLE_NAMES = (
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
)


# Tables whose queries do heavy per-row expression work (tokenize /
# shingle / hash / vector math). The driver's test parquet is ONE row
# group per table -> one scan task, so without a fan-out all of that work
# runs on a single core until the first shuffle. For these tables one
# round-robin repartition after the scan is a 2-4x cold-run win (measured:
# ngram-jaccard 19.8s -> ~10s, minhash 18s -> ~4s at sf0.1). The
# relational tables (lineitem/orders/...) are agg/join-bound with light
# per-row work — there the extra exchange + AQE round costs more than the
# parallelism buys at this scale, so they are left alone. On a real
# multi-file dataset the scan splits by itself and this is a no-op.
FANOUT_TABLES = frozenset({"documents", "embeddings"})


# Inferring a parquet table's schema starts one Spark job (the footer
# read); a read given the schema starts none. Each table path keeps the
# schema last inferred for it with the key it was inferred under: the
# status of its files and the one conf that changes how they decode
# (TIMESTAMP(NANOS) as long on Spark <= 4.0). A rewritten table has new
# part files, so its key changes and it is inferred again.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _file_status(path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under ``path``; None when the
    path is not on the local file system (it is then inferred per read)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    status = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            status.append((os.path.relpath(os.path.join(root, f), path),
                           st.st_size, st.st_mtime_ns))
    return tuple(sorted(status))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema at most once per
    state of the files."""
    status = _file_status(path)
    if status is None:
        return spark.read.parquet(path)
    key = (status, spark.conf.get(_NANOS_AS_LONG, None))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to long nanoseconds regardless of Spark version.

    The driver's events.parquet stores TIMESTAMP(NANOS). On Spark <= 4.0 with
    ``spark.sql.legacy.parquet.nanosAsLong`` the column reads as long nanos;
    on Spark 4.1+ that conf silently no-ops and the column reads as
    ``timestamp_ntz`` (micro precision, nanos truncated). Every downstream
    query keys on ``ts div 1000 == epoch_us(ts)``, so here — the single
    load point — the timestamp representation is converted back to long
    nanos via ``unix_micros(cast(ts as timestamp)) * 1000`` (session tz is
    UTC, so ntz->ltz is identity; probe-verified micro-exact against
    DuckDB ``epoch_us`` on every row). Long-ts files pass through untouched,
    so the same code runs on both Spark lineages with identical hashes.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    raise TypeError(f"events.ts has unsupported parquet type {dt}")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, min_parallelism: int | None = None
) -> DataFrame:
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_event_ts(df)
    if name not in FANOUT_TABLES:
        return df
    if min_parallelism is None:
        min_parallelism = spark.sparkContext.defaultParallelism
    # file count as the parallelism proxy: inputFiles() is a metadata-only
    # listing (no RDD conversion plan per load, unlike rdd.getNumPartitions).
    # Single-file driver parquet fans out to core count for the heavy
    # per-row expressions; a many-file corpus at scale is left untouched.
    if len(df.inputFiles()) < min_parallelism:
        df = df.repartition(min_parallelism)
    return df
