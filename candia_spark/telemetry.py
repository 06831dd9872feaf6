"""Routing-decision telemetry, keyed by the caller's Spark job group.

Operators call ``record(op, **fields)`` where they choose a path (Jaccard
prefix or plain, broadcast or exchange-free authority, probe partition
counts, hot-key caps). A harness that tags each query with
``sc.setJobGroup(name, name)`` collects that query's decisions with
``pop(name)``. Recording runs no Spark job.

Records made with no job group share one entry per op that later calls
update in place, so the registry stays bounded in tests, scripts and
streaming loops that never pop.
"""

from __future__ import annotations

from pyspark import SparkContext

_REGISTRY: dict[str | None, dict[str, dict]] = {}


def _job_group() -> str | None:
    sc = SparkContext._active_spark_context
    return sc.getLocalProperty("spark.jobGroup.id") if sc is not None else None


def record(op: str, **fields) -> None:
    """Merge ``fields`` into ``op``'s entry for the current job group."""
    _REGISTRY.setdefault(_job_group(), {}).setdefault(op, {}).update(fields)


def pop(group: str | None = None) -> dict[str, dict]:
    """Remove and return ``{op: fields}`` recorded under ``group``."""
    return _REGISTRY.pop(group, {})
