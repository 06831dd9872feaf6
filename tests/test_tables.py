"""Schema-adaptive table loading.

The driver's events.parquet stores TIMESTAMP(NANOS). Spark <= 4.0 reads it
as long nanos under ``spark.sql.legacy.parquet.nanosAsLong``; Spark 4.1+
silently ignores that conf and reads ``timestamp_ntz``. ``load_table`` must
hide the difference: downstream code always sees long nanos with
``ts div 1000 == DuckDB epoch_us(ts)`` exactly (round 3 lost four queries,
the bench, and eight tests to this exact divergence).
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from candia_spark.tables import _normalize_event_ts, load_table


def test_events_ts_is_long_nanos_whatever_spark_decodes(spark, sf_smoke):
    df = load_table(spark, sf_smoke, "events")
    assert isinstance(df.schema["ts"].dataType, LongType)
    # The downstream convention every time-based query relies on:
    assert df.select(F.expr("ts div 1000").alias("us")).count() > 0


def test_events_ts_micro_exact_vs_duckdb(spark, sf_smoke):
    """``ts div 1000`` must equal DuckDB ``epoch_us(ts)`` on EVERY row —
    the oracle-hash contract for q04/q21/q22/q37 (ADVICE.md round 3: check
    values, not just that the queries run)."""
    path = os.path.join(sf_smoke, "events.parquet")
    got = {
        r["event_id"]: r["us"]
        for r in load_table(spark, sf_smoke, "events")
        .select("event_id", F.expr("ts div 1000").alias("us"))
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM read_parquet('{path}')"
        ).fetchall()
    )
    assert got == want


def test_normalize_passthrough_for_long_ts(spark):
    df = spark.range(3).select(
        F.col("id").alias("event_id"), (F.col("id") * 1_000_000_000).alias("ts")
    )
    out = _normalize_event_ts(df)
    assert out is df  # no-op plan: legacy long read needs no rewrite


def test_normalize_rejects_unusable_ts_type(spark):
    df = spark.range(1).select(F.lit("2024").alias("ts"))
    with pytest.raises(TypeError):
        _normalize_event_ts(df)


def test_normalize_does_not_depend_on_legacy_conf(spark, sf_smoke):
    """Forcibly clear the legacy conf: ingestion must still produce long
    nanos (the conf is determinism garnish for old Sparks, never a
    load-bearing assumption — VERDICT r3 item 4)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        df = load_table(spark, sf_smoke, "events")
        assert isinstance(df.schema["ts"].dataType, LongType)
        assert df.limit(1).count() == 1
    finally:
        if old is not None:
            spark.conf.set(key, old)


def test_fanout_skipped_for_multi_file_input(spark, tmp_path):
    """The single-file fan-out heuristic must be a NO-OP on a real
    multi-file corpus — at 100 TB an unconditional repartition would be a
    full-corpus shuffle (VERDICT r3 item 9)."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(64)
    # a multi-file "documents" table under a fake sf dir
    docs.repartition(8).write.parquet(str(tmp_path / "documents.parquet"))
    many = load_table(spark, str(tmp_path), "documents", min_parallelism=4)
    assert "Exchange" not in many._jdf.queryExecution().executedPlan().toString()
    # and the single-file driver layout DOES fan out:
    one = load_table(spark, "/root/testdata/sf0.001", "documents", min_parallelism=4)
    assert "Exchange" in one._jdf.queryExecution().executedPlan().toString()


def _jobs_started(spark, fn) -> int:
    """Spark jobs ``fn`` starts, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"test_tables_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path):
    spark.range(10).selectExpr("id", "id * 2 as v").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    first = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "lineitem"))
    assert first >= 1  # the schema inference job
    again = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "lineitem"))
    assert again == 0
    assert load_table(spark, str(tmp_path), "lineitem").columns == ["id", "v"]


def test_rewritten_table_reads_its_new_column(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    spark.range(5).selectExpr("id").write.parquet(path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["id"]
    spark.range(5).selectExpr("id", "id + 100 as added").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["id", "added"]
    assert sorted(r.added for r in df.collect()) == [100, 101, 102, 103, 104]
