"""Routing-decision telemetry, keyed by the caller's Spark job group.

Operators call ``record(op, **fields)`` where they choose a path (Jaccard
prefix or plain, broadcast or exchange-free authority, probe partition
counts, hot-key caps). A harness that tags each query with
``sc.setJobGroup(name, name)`` collects that query's decisions with
``pop(name)``. Recording runs no Spark job.

``append(op, **fields)`` keeps one entry per call instead, for decisions
an operation makes more than once (each pair probe sizes its own
partitions): ``op`` then maps to a list of field dicts.

Records made with no job group share one entry per op that later calls
update in place (``append`` keeps only the last call), so the registry
stays bounded in tests, scripts and loops that never pop.
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


def append(op: str, **fields) -> None:
    """Add ``fields`` as one more entry of ``op``'s list for the current
    job group."""
    group = _job_group()
    entries = _REGISTRY.setdefault(group, {}).setdefault(op, [])
    if group is None:
        entries.clear()
    entries.append(fields)


def pop(group: str | None = None) -> dict[str, dict]:
    """Remove and return ``{op: fields}`` recorded under ``group``."""
    return _REGISTRY.pop(group, {})
