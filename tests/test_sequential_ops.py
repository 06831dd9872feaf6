"""Golden tests for the order-dependent operators (W4 greedy ppm
partitioning, W3 cycle binning) and the as-of join they build on, and the
equivalence of the per-slice tensor kernel with those operators.

Expectations are hand-computed from the greedy rule / cycle semantics
(parity spec: SURVEY §2.5 W3/W4), not copied from the reference tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from candia_spark.operators import (
    asof_join,
    assign_scan_cycles,
    greedy_partition_starts,
    greedy_ppm_partition,
    two_level_count_filter,
)
from candia_spark.pipeline import tensorize_slices


def test_greedy_partition_starts_rule():
    # tol 100000 ppm = 10%: start=100; 105<=110 stays; 111>110 -> new start;
    # 120<=122.1 stays; 200 new.
    vals = [100.0, 105.0, 111.0, 120.0, 200.0]
    assert greedy_partition_starts(vals, 100000.0) == [
        100.0, 100.0, 111.0, 111.0, 200.0,
    ]


def test_greedy_partition_starts_order_dependence():
    # Removing the middle value changes downstream boundaries — the property
    # that makes W4 non-parallelizable (SURVEY §7.3(1)).
    with_mid = greedy_partition_starts([100.0, 112.0, 121.0, 135.0], 100000.0)
    without_mid = greedy_partition_starts([100.0, 121.0, 135.0], 100000.0)
    # with 112 present: 112 starts a partition and captures 121
    assert with_mid == [100.0, 112.0, 112.0, 135.0]
    # without it: 121 starts its own partition — same value, different label
    assert without_mid == [100.0, 121.0, 135.0]


def test_greedy_ppm_partition_distributed(spark):
    rows = [Row(g="a", v=float(v)) for v in (100, 105, 111, 120, 200)] + [
        Row(g="b", v=float(v)) for v in (100, 200)
    ]
    df = spark.createDataFrame(rows * 2)  # duplicates must be preserved
    out = greedy_ppm_partition(df, "v", ["g"], tol_ppm=100000.0)
    got = sorted((r.g, r.v, r.partition_start) for r in out.collect())
    expected = sorted(
        [("a", 100.0, 100.0), ("a", 105.0, 100.0), ("a", 111.0, 111.0),
         ("a", 120.0, 111.0), ("a", 200.0, 200.0),
         ("b", 100.0, 100.0), ("b", 200.0, 200.0)] * 2
    )
    assert got == expected


def test_asof_join_backward(spark):
    pts = spark.createDataFrame(
        [Row(k=1, t=5.0, x="p5"), Row(k=1, t=15.0, x="p15"), Row(k=1, t=2.0, x="p2"),
         Row(k=2, t=7.0, x="q7")]
    )
    anchors = spark.createDataFrame(
        [Row(k=1, t=3.0, tag="a3"), Row(k=1, t=10.0, tag="a10"), Row(k=2, t=9.0, tag="a9")]
    )
    out = {r.x: r.tag for r in asof_join(pts, anchors, on="t", by=["k"]).collect()}
    assert out == {"p2": None, "p5": "a3", "p15": "a10", "q7": None}


def test_asof_join_tie_semantics(spark):
    pts = spark.createDataFrame([Row(k=1, t=3.0, x="p")])
    anchors = spark.createDataFrame([Row(k=1, t=3.0, tag="same_t")])
    assert asof_join(pts, anchors, on="t", by=["k"]).collect()[0].tag == "same_t"
    assert (
        asof_join(pts, anchors, on="t", by=["k"], strict=True).collect()[0].tag is None
    )


def test_asof_join_forward(spark):
    pts = spark.createDataFrame([Row(k=1, t=5.0, x="p")])
    anchors = spark.createDataFrame(
        [Row(k=1, t=3.0, tag="past"), Row(k=1, t=8.0, tag="next"), Row(k=1, t=9.0, tag="later")]
    )
    out = asof_join(pts, anchors, on="t", by=["k"], direction="forward").collect()
    assert out[0].tag == "next"


def test_assign_scan_cycles(spark):
    # markers at t=10,20,30 for sample s; cycle k = [marker_k, marker_{k+1})
    pts = spark.createDataFrame(
        [Row(s="s", t=float(t)) for t in (5, 10, 12, 20, 29, 30, 31)]
    )
    markers = spark.createDataFrame([Row(s="s", t=10.0), Row(s="s", t=20.0), Row(s="s", t=30.0)])
    out = assign_scan_cycles(pts, "t", ["s"], markers, tail=0.5)
    got = sorted((r.t, r.cycle) for r in out.collect())
    # t=5 before first marker -> dropped; t=31 > 30+0.5 tail -> dropped
    assert got == [(10.0, 0), (12.0, 0), (20.0, 1), (29.0, 1), (30.0, 2)]


# --- the per-slice tensor kernel against the relational chain -------------

SLICE = ["swath_lower_adjusted", "rt_window"]
SLICED_SCHEMA = (
    "swath_lower_adjusted double, rt_window long, sample string, level int,"
    " rt double, mz double, intensity double"
)


def _relational_tensor(sliced, tol_ppm, min_points):
    """Stage 4 written as Spark operators: as-of cycle join, greedy ppm
    grouped map joined back, two-level count filter and row_number
    ordinals joined back."""
    markers = (
        sliced.filter(F.col("level") == 1)
        .select(*SLICE, "sample", F.col("rt").alias("t"))
        .distinct()
    )
    with_cycles = assign_scan_cycles(
        sliced.withColumnRenamed("rt", "t"),
        time_col="t",
        group_cols=SLICE + ["sample"],
        marker_times=markers,
        tail=0.1,
    )
    parted = greedy_ppm_partition(
        with_cycles, "mz", SLICE + ["level"], tol_ppm=tol_ppm,
        out_col="mz_partition_start",
    )
    kept = two_level_count_filter(
        parted,
        inner_key=SLICE + ["level", "mz_partition_start", "sample"],
        outer_key=SLICE + ["level", "mz_partition_start"],
        min_count=min_points,
    )

    def ordinal(cols, id_col):
        w = Window.partitionBy(*SLICE).orderBy(*cols)
        return kept.select(*SLICE, *cols).distinct().withColumn(
            id_col, (F.row_number().over(w) - 1).cast("long")
        )

    samples = ordinal(["sample"], "sample_no")
    mz_dim = ordinal(["level", "mz_partition_start"], "mz_idx")
    cells = (
        kept.join(samples, on=SLICE + ["sample"])
        .join(mz_dim, on=SLICE + ["level", "mz_partition_start"])
        .groupBy(*SLICE, "sample_no", "cycle", "mz_idx")
        .agg(F.sum("intensity").alias("intensity"))
    )
    return cells, mz_dim


def _random_slices(seed, min_points):
    """Four slices of 2-3 samples each. Per sample: MS1 markers on a
    jittered grid; MS1 points at the markers; MS2 points at random times
    from before the first marker to past the last, plus points exactly at
    a marker, at the last marker + 0.1 s and one ulp beyond it. M/z values
    jitter around a shared pool by ~20 ppm, so partitions merge or split
    with the tolerance. One m/z has exactly ``min_points`` points in one
    sample and one has ``min_points - 1`` in every sample."""
    rng = np.random.default_rng(seed)
    rows = []
    for swath in (400.0, 425.0):
        for rt_window in (0, 1):
            pool = rng.uniform(150.0, 1200.0, 10)
            for s in range(int(rng.integers(2, 4))):
                sample = f"sample{s}.mzML"
                t0 = 60.0 * rt_window
                markers = np.round(
                    t0 + 5.0 + 3.0 * np.arange(12) + rng.uniform(0, 0.5, 12), 4
                )

                def point(level, t, mz):
                    rows.append((swath, rt_window, sample, level, float(t),
                                 float(mz), float(rng.uniform(1.0, 1e4))))

                def jittered():
                    return rng.choice(pool) * (1.0 + rng.normal(0.0, 20e-6))

                for t in markers:
                    for _ in range(3):
                        point(1, t, jittered())
                times = list(rng.uniform(t0, markers[-1] + 0.3, 60))
                times += list(rng.choice(markers, 5))
                tail = markers[-1] + 0.1
                times += [t0 + 1.0, tail, np.nextafter(tail, np.inf)]
                for t in times:
                    point(2, t, jittered())
                if s == 0:
                    for t in markers[:min_points]:
                        point(2, t, 1500.0)
                for t in markers[: min_points - 1]:
                    point(2, t, 1600.0)
    return pd.DataFrame(
        rows,
        columns=["swath_lower_adjusted", "rt_window", "sample", "level", "rt",
                 "mz", "intensity"],
    )


@pytest.mark.parametrize("tol_ppm,min_points", [(40.0, 5), (10.0, 1), (200.0, 8)])
def test_tensorize_kernel_matches_relational_chain(spark, tol_ppm, min_points):
    """``pipeline.tensorize_slices`` (one grouped map running
    ``sequential.tensorize_slice``) gives the relational chain's cells and
    m/z dimension: keys exactly, intensities to a relative 1e-12 (the two
    sum in different orders)."""
    sliced = spark.createDataFrame(
        _random_slices(int(tol_ppm) + min_points, min_points), SLICED_SCHEMA
    )
    keys = SLICE + ["sample_no", "cycle", "mz_idx"]
    want_cells, want_dim = _relational_tensor(sliced, tol_ppm, min_points)
    got_cells, got_dim = tensorize_slices(sliced, tol_ppm, min_points)

    assert got_cells.schema == want_cells.schema
    assert got_dim.schema == want_dim.schema
    want = want_cells.toPandas()
    got = got_cells.toPandas()
    assert len(want) > 0 and want["sample_no"].nunique() > 1
    merged = want.merge(got, on=keys, how="outer", suffixes=("_want", "_got"),
                        indicator=True)
    assert (merged["_merge"] == "both").all(), merged[merged["_merge"] != "both"]
    np.testing.assert_allclose(
        merged["intensity_got"], merged["intensity_want"], rtol=1e-12, atol=0
    )
    dim_cols = SLICE + ["level", "mz_partition_start", "mz_idx"]
    want_dims = sorted(map(tuple, want_dim.toPandas()[dim_cols].to_numpy()))
    got_dims = sorted(map(tuple, got_dim.toPandas()[dim_cols].to_numpy()))
    assert got_dims == want_dims
    assert {level for _, _, level, _, _ in want_dims} == {1, 2}
    # the exactly-min_points m/z survives the filter, the one below it not
    assert 1500.0 in {mz for *_, mz, _ in want_dims}
    assert 1600.0 not in {mz for *_, mz, _ in want_dims}
