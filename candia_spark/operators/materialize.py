"""The one materialization primitive: :func:`cut`.

A cut computes a subtree once so that several downstream consumers (or
the next iteration of a loop) read stored rows instead of replaying the
lineage. Statistics a caller needs for routing or overflow guards ride
the cut's own action as ``Observation`` metrics, so every cut is exactly
one Spark action and its statistics always exist.

Two legs, chosen from the session's Spark conf, never by the caller:

- checkpoint (default): ``localCheckpoint(eager=True)``. Blocks are
  executor-local and freed by the ContextCleaner when the DataFrame is
  garbage-collected, so no cache outlives the call. Lineage is
  truncated and the blocks are unreplicated: losing an executor fails
  the job instead of recomputing.
- persist: ``persist()`` plus one ``count()``. Lineage is kept, so a
  lost block is recomputed. Taken when executors can disappear by
  design — dynamic allocation or decommissioning is enabled. The rows
  come back under a leaf plan over the cached data, which carries no
  size statistics for the planner; the cache lives until the session's
  cache is cleared.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Observation

# Spark confs under which executors (and their local checkpoint blocks)
# can be removed while the application runs.
_EXECUTOR_LOSS_CONFS = (
    "spark.dynamicAllocation.enabled",
    "spark.decommission.enabled",
)


@functools.lru_cache(maxsize=1)
def _persist_leg(sc: SparkContext) -> bool:
    """True when the cluster may remove executors. The SparkConf is fixed
    for the life of a SparkContext, so the answer is cached per context."""
    conf = sc.getConf()
    return any(
        conf.get(key, "false").strip().lower() == "true"
        for key in _EXECUTOR_LOSS_CONFS
    )


def cut(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with exactly one action and return
    ``(materialized, stats)``. ``metrics`` are aggregate columns (each
    aliased) evaluated over the rows by that same action; ``stats`` maps
    their aliases to values, ``{}`` when none are given."""
    obs = None
    if metrics:
        obs = Observation()
        df = df.observe(obs, *metrics)
    if _persist_leg(df.sparkSession.sparkContext):
        cached = df.persist()
        cached.count()
        # the cached rows under a leaf plan: lineage stays recomputable
        # through the RDD, but the logical plan of an iterative caller no
        # longer grows with every round (connected_components' superstep
        # reads its input several times, so a persisted plan would grow
        # exponentially in the round count)
        jdf = cached._jdf
        session = cached.sparkSession
        out = type(cached)(
            session._jsparkSession.createDataFrame(jdf.rdd(), jdf.schema()),
            session,
        )
    else:
        out = df.localCheckpoint(eager=True)
    return out, (obs.get if obs is not None else {})
