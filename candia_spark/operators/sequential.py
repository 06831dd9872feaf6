"""Order-dependent (sequential) operators: greedy ppm partitioning (W4) and
scan-cycle binning (W3) — SURVEY §7.3(1) calls W4 the single most
semantics-critical operator of the reference pipeline — and the per-slice
tensor kernel that applies both to one slice's points in pandas.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from candia_spark.operators.asof import asof_join

# The reference keeps points up to 0.1 s after a sample's last MS1 scan
# (generate_slice_tensor.py:99-145).
CYCLE_TAIL_SEC = 0.1


def greedy_partition_starts(values: Sequence[float], tol_ppm: float) -> list[float]:
    """The greedy rule on an ascending value sequence: a value starts a new
    partition when it exceeds the current partition start by more than
    ``start * tol_ppm / 1e6``; the partition label is its start value.

    Parity: scripts/util/generate_slice_tensor.py:181-233 (greedy scan over
    sorted distinct m/z per (slice, MS level); golden test :383-563).
    Boundaries depend on the full sorted prefix, so no fixed-width bucket or
    parallel prefix trick reproduces them — this loop IS the semantics.
    """
    starts: list[float] = []
    cur: float | None = None
    for v in values:
        if cur is None or (v - cur) > cur * tol_ppm / 1e6:
            cur = v
        starts.append(cur)
    return starts


def tensorize_slice(
    points: pd.DataFrame, tol_ppm: float, min_points: int
) -> pd.DataFrame:
    """One slice's tensor cells from its points (columns ``sample``,
    ``level``, ``rt``, ``mz``, ``intensity``), as the reference builds one
    slice's tensor in one process (generate_slice_tensor.py:67-178):

    - cycles (W3): per sample, a point's cycle is the position of the last
      of the sample's distinct MS1 times at or before it (cycles are
      right-open, so a marker equal to a point's time matches it); points
      before the first marker, or more than ``CYCLE_TAIL_SEC`` after the
      last, are dropped
    - m/z partitions (W4): ``greedy_partition_starts`` per level over the
      distinct m/z of the points that have a cycle
    - filter (A5): keep a partition when some sample has at least
      ``min_points`` points in it
    - ordinals: ``sample_no`` over the sorted sample names and ``mz_idx``
      over the sorted (level, partition start) pairs, both within the slice

    Returns one row per (sample_no, cycle, mz_idx) cell with the cell's
    ``level``, ``mz_partition_start`` and summed ``intensity``. The same
    semantics, written as Spark operators, are ``assign_scan_cycles``,
    ``greedy_ppm_partition`` and ``relational.two_level_count_filter``.
    """
    rt = points["rt"].to_numpy(dtype="float64")
    ms1 = (points["level"] == 1).to_numpy()
    cycle = np.full(len(points), -1, dtype="int64")
    for rows in points.groupby("sample", sort=False).indices.values():
        markers = np.unique(rt[rows[ms1[rows]]])
        if markers.size:
            c = np.searchsorted(markers, rt[rows], side="right") - 1
            c[rt[rows] > markers[-1] + CYCLE_TAIL_SEC] = -1
            cycle[rows] = c
    timed = cycle >= 0
    pts = points[timed].assign(cycle=cycle[timed])

    mz = pts["mz"].to_numpy(dtype="float64")
    starts = np.empty(len(pts))
    for rows in pts.groupby("level", sort=False).indices.values():
        distinct = np.unique(mz[rows])
        first = np.asarray(greedy_partition_starts(distinct.tolist(), tol_ppm))
        starts[rows] = first[np.searchsorted(distinct, mz[rows])]
    pts = pts.assign(mz_partition_start=starts)

    part = ["level", "mz_partition_start"]
    per_sample = pts.groupby(part + ["sample"], sort=False)["rt"].transform("size")
    best = per_sample.groupby([pts[c] for c in part], sort=False).transform("max")
    kept = pts[best >= min_points]
    kept = kept.assign(
        sample_no=kept.groupby("sample").ngroup(),
        mz_idx=kept.groupby(part).ngroup(),
    )
    return kept.groupby(
        ["sample_no", "cycle", "mz_idx"] + part, as_index=False, sort=False
    )["intensity"].sum()


def greedy_ppm_partition(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    tol_ppm: float,
    out_col: str = "partition_start",
) -> DataFrame:
    """Assign every row the greedy ppm-partition start of its value within
    its group.

    Scale: the sequential loop runs only over the **distinct** values of
    each group (a few thousand m/z per slice in the reference — pennies),
    inside ``applyInPandas`` with one task per group; thousands of groups
    run slice-parallel across the cluster. The result maps back onto the
    fact table with a shuffle-hash equi-join on (group, value) — or a
    broadcast when the distinct map is small (AQE decides).
    """
    group_cols = list(group_cols)
    distinct = df.select(*group_cols, value_col).distinct()
    out_schema = StructType(
        [distinct.schema[c] for c in group_cols]
        + [distinct.schema[value_col]]
        + [StructField(out_col, DoubleType(), True)]
    )

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(value_col, ignore_index=True)
        pdf[out_col] = pd.Series(
            greedy_partition_starts(pdf[value_col].tolist(), tol_ppm), dtype="float64"
        )
        return pdf

    mapping = distinct.groupBy(*group_cols).applyInPandas(assign, schema=out_schema)
    return df.join(mapping, on=group_cols + [value_col], how="inner")


def assign_scan_cycles(
    points: DataFrame,
    time_col: str,
    group_cols: Sequence[str],
    marker_times: DataFrame,
    tail: float | None = None,
    cycle_col: str = "cycle",
) -> DataFrame:
    """Bin points into cycles delimited by per-group marker times (the
    reference's MS1 acquisition times): ``cycle k`` covers
    ``[marker_k, marker_{k+1})``; points before the first marker are
    dropped; with ``tail`` set, points more than ``tail`` after the last
    marker are dropped (the reference's right-open ``pd.cut`` with a +0.1
    tail, generate_slice_tensor.py:99-145).

    ``marker_times`` must have columns ``group_cols + [time_col]``.

    Scale: cycle indexing of markers is a per-group window over the (small)
    marker table; the point->cycle assignment is the union-sort as-of join
    (one shuffle, no Python). Nothing here collects to the driver.
    """
    from pyspark.sql import Window

    group_cols = list(group_cols)
    w = Window.partitionBy(*group_cols).orderBy(F.col(time_col))
    markers = (
        marker_times.select(*group_cols, time_col)
        .distinct()
        .withColumn(cycle_col, (F.row_number().over(w) - 1).cast("long"))
    )
    wmax = Window.partitionBy(*group_cols)
    markers = markers.withColumn(
        "__last_marker", F.max(F.col(time_col)).over(wmax)
    )

    out = asof_join(
        points,
        markers,
        on=time_col,
        by=group_cols,
        right_cols=[cycle_col, "__last_marker"],
        direction="backward",
    ).filter(F.col(cycle_col).isNotNull())
    if tail is not None:
        out = out.filter(F.col(time_col) <= F.col("__last_marker") + F.lit(tail))
    return out.drop("__last_marker")
