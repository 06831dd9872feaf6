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
