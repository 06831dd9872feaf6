"""bench.py's one stdout line stays inside the 1900-byte budget (the
harness that runs the bench keeps only the last 2000 bytes of stdout)."""

from __future__ import annotations

import json

import bench
from candia_spark.plans.queries import QUERY_REGISTRY


def test_result_line_fits_byte_budget_for_every_query():
    timings = {name: 12.345 for name in QUERY_REGISTRY}
    line = bench.result_line(timings, {}, 0.1, runs=1)
    assert len(line.encode()) <= 1900
    out = json.loads(line)
    assert list(out) == ["metric", "value", "unit", "queries", "sf"]
    assert len(out["queries"]) == len(QUERY_REGISTRY)


def test_time_query_reports_jobs_per_run(spark):
    """The stderr entry's ``jobs`` is the query's Spark jobs per run, read
    from the status tracker: a query that collects once while it is built
    and is then written to the noop sink starts two jobs a run."""

    def two_actions(spark, sf_dir):
        spark.range(3).collect()
        return spark.range(4)

    timings, errors = {}, {}
    try:
        entry = bench.time_query(
            spark, "bench_jobs_probe", two_actions, None, 2, timings, errors
        )
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    assert errors == {} and "bench_jobs_probe" in timings
    assert entry["jobs"] == 2
    assert entry["codegen"]["compiles"] >= 0
