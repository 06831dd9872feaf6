"""Core relational / window operators (SURVEY §2.2-§2.6), Spark-first.

Each operator is a generic DataFrame -> DataFrame transform; the CANDIA
pipeline and the TPC-H-facing query plans both compose these. Reference
citations (file:line into /root/reference) document parity, not provenance —
implementations here are written against the PySpark DataFrame API.

Scale notes are inline per operator: what broadcasts, what shuffles, and why
the plan survives a 1000-executor / 100 TB run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# J1 / J5 / J6 — interval & band joins
# ---------------------------------------------------------------------------

def interval_join(
    points: DataFrame,
    windows: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    point_key: Sequence[str] | None = None,
    first_window_wins: bool = True,
    closed_left: bool = True,
) -> DataFrame:
    """Point-in-range join: attach to each point the window containing it.

    Parity: the reference assigns each point's precursor m/z to its SWATH
    isolation window via an in-memory IntervalTree, taking the first
    (lowest-lo) window on overlap (scripts/util/msproc.py:89-91,164-170).

    Scale: the window table is tiny (~32 rows in the reference; any
    dimension-sized interval set), so this is a **broadcast range join** —
    the fact table NEVER shuffles, including under ``first_window_wins``.
    Overlap resolution happens entirely on the dimension side *before* the
    join: windows sorted by ``lo`` are clipped to the region not covered by
    any earlier window (join-lower-bound = running max of preceding ``hi``),
    which yields disjoint segments where "minimum-``lo`` wins" is vacuous —
    each point matches at most one segment, duplicate fact rows are
    preserved, and no post-join analytic window (= full fact shuffle) is
    needed. The emitted ``lo``/``hi`` columns are the *original* window
    bounds. ``point_key`` is retained for API compatibility but unused.
    With ``first_window_wins=False`` all overlapping windows are kept.
    Interval semantics: [lo, hi) when ``closed_left`` (half-open, the
    rebuild's canonical form), else (lo, hi].
    """
    del point_key  # no longer needed: dedup moved to the dimension side
    p = F.col(point_col)
    if first_window_wins:
        windows = deoverlap_first_wins(windows, lo_col, hi_col)
        jlo = F.col("__jlo")
    else:
        jlo = F.col(lo_col)
    if closed_left:
        cond = (p >= jlo) & (p < F.col(hi_col))
    else:
        cond = (p > jlo) & (p <= F.col(hi_col))
    joined = points.join(F.broadcast(windows), cond, "inner")
    if first_window_wins:
        joined = joined.drop("__jlo")
    return joined


def deoverlap_first_wins(
    windows: DataFrame, lo_col: str = "lo", hi_col: str = "hi"
) -> DataFrame:
    """Clip each window's join-lower-bound so that "first (min-``lo``) window
    wins" becomes a property of the *table*, not of a post-join dedup.

    For windows sorted by (lo, hi), a point x >= lo_i is claimed by an
    earlier window j < i iff x < hi_j (lo_j <= lo_i <= x always holds), i.e.
    iff x < max_{j<i} hi_j. So window i's winning region is
    [max(lo_i, running-max of earlier hi), hi_i) — disjoint by construction;
    windows fully shadowed by earlier ones drop out. Original ``lo``/``hi``
    are preserved; the clipped bound lands in ``__jlo``.

    Scale: a single-partition analytic window over a dimension-sized table —
    deliberate and cheap. Never apply to a fact table.
    """
    return windows.withColumn(
        "__jlo", first_wins_lower_bound(lo_col, hi_col)
    ).filter(F.col("__jlo") < F.col(hi_col))


def first_wins_lower_bound(lo_col: str = "lo", hi_col: str = "hi") -> Column:
    """Each window's first-wins join-lower-bound, ``max(lo_i, running max of
    earlier hi)`` over the windows sorted by (lo, hi)
    (:func:`deoverlap_first_wins`). A window whose bound is not below its
    ``hi`` is shadowed by earlier windows and wins no point."""
    w = Window.orderBy(F.col(lo_col), F.col(hi_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return F.greatest(
        F.col(lo_col).cast("double"),
        F.coalesce(F.max(F.col(hi_col)).over(w), F.col(lo_col)).cast("double"),
    )


def interval_anti_join(
    points: DataFrame,
    windows: DataFrame,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    closed_left: bool = True,
) -> DataFrame:
    """Discard points matched by no window (F2/J6, msproc.py:164-170):
    broadcast left-anti range join."""
    p = F.col(point_col)
    if closed_left:
        cond = (p >= F.col(lo_col)) & (p < F.col(hi_col))
    else:
        cond = (p > F.col(lo_col)) & (p <= F.col(hi_col))
    return points.join(F.broadcast(windows), cond, "left_anti")


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    tol: float,
    how: str = "inner",
    bucketed: bool = True,
) -> DataFrame:
    """Tolerance (|a-b| <= tol) equi-ish join.

    Parity: reference matches float keys with ``np.isclose``
    (scripts/util/msproc.py:730-743, scripts/identification/
    id_models_concat.py:85-89).

    Scale: a naive theta-join is a cartesian product. With
    ``bucketed=True`` both sides are bucketed at width ``tol`` and joined on
    bucket ∈ {b-1, b, b+1} — an equi-join Catalyst can shuffle-hash or
    broadcast, turning O(N·M) into O(N+M) with constant fanout 3. The exact
    |a-b| <= tol predicate is re-applied after the bucket equi-join.
    """
    la, ra = F.col(left_col), F.col(right_col)
    exact = F.abs(la - ra) <= F.lit(tol)
    if not bucketed:
        return left.join(right, exact, how)
    lb = left.withColumn("__lb", F.floor(la / F.lit(tol)).cast("long"))
    rb = right.withColumn(
        "__rb",
        F.explode(
            F.array(
                F.floor(ra / F.lit(tol)).cast("long") - 1,
                F.floor(ra / F.lit(tol)).cast("long"),
                F.floor(ra / F.lit(tol)).cast("long") + 1,
            )
        ),
    )
    out = lb.join(rb, (F.col("__lb") == F.col("__rb")) & exact, how)
    return out.drop("__lb", "__rb")


# ---------------------------------------------------------------------------
# W1 — overlapping-window adjustment (lead/lag)
# ---------------------------------------------------------------------------

def adjust_overlapping_windows(
    windows: DataFrame,
    lo_col: str = "lo",
    hi_col: str = "hi",
    digits: int = 2,
) -> DataFrame:
    """Turn overlapping intervals into contiguous ones by splitting overlap
    at the midpoint.

    Parity: scripts/util/adjust_swaths.R:26-41 — over distinct windows
    ordered by lower bound: ``upper_adj = round((lead(lo) + hi) / 2, d)``
    (last window keeps its hi), ``lower_adj = lag(upper_adj)`` (first window
    keeps its lo).

    Scale: the window set is dimension-sized; a single-partition window over
    it is deliberate and cheap. Never apply this to a fact table.
    """
    w = Window.orderBy(F.col(lo_col))
    adjusted = (
        windows.select(lo_col, hi_col)
        .distinct()
        .withColumn(
            "upper_adj",
            F.round(
                F.coalesce(
                    (F.lead(F.col(lo_col)).over(w) + F.col(hi_col)) / 2.0,
                    F.col(hi_col).cast("double"),
                ),
                digits,
            ).cast("double"),
        )
        .withColumn(
            "lower_adj",
            F.coalesce(
                F.lag(F.col("upper_adj")).over(w), F.round(F.col(lo_col), digits).cast("double")
            ),
        )
    )
    return adjusted


# ---------------------------------------------------------------------------
# W2 — fixed-width bucketization
# ---------------------------------------------------------------------------

def bucketize(
    df: DataFrame, col: str, width: float, out_col: str = "bucket"
) -> DataFrame:
    """Fixed-width bin: ``floor(x / width)``.

    Parity: RT-window bucketization via ML Bucketizer over
    ``np.arange(0, max_rt + w, w)`` splits
    (scripts/util/split_csv_maps_to_slices.py:69-78) — identical result for
    non-negative x, without materializing split arrays or a global max first.

    Scale: a narrow map expression — no shuffle, fully codegen'd, and usable
    directly as a partition key for the slice store sink.
    """
    return df.withColumn(out_col, F.floor(F.col(col) / F.lit(width)).cast("long"))


# ---------------------------------------------------------------------------
# W5 — group-wise argmax keeping ties
# ---------------------------------------------------------------------------

def groupwise_argmax(
    df: DataFrame, group_cols: Sequence[str], value_col: str, keep_ties: bool = True
) -> DataFrame:
    """Rows attaining the per-group maximum of ``value_col``.

    Parity: best-model selection keeps all rows where
    ``unimodal_fraction == max`` within (swath_start, rt_window)
    (scripts/identification/select_best_models.R:31-36).

    Scale: one hash-partitioned analytic window (max over partition) — a
    single shuffle on the group key; no self-join. AQE handles skewed groups.
    """
    w = Window.partitionBy(*group_cols)
    out = df.withColumn("__mx", F.max(F.col(value_col)).over(w)).filter(
        F.col(value_col) == F.col("__mx")
    ).drop("__mx")
    if not keep_ties:
        w2 = Window.partitionBy(*group_cols).orderBy(*[F.col(c) for c in df.columns])
        out = out.withColumn("__rn", F.row_number().over(w2)).filter(
            F.col("__rn") == 1
        ).drop("__rn")
    return out


# ---------------------------------------------------------------------------
# A5 + J4 — two-level max-count filter + left-semi join
# ---------------------------------------------------------------------------

def two_level_count_filter(
    df: DataFrame,
    inner_key: Sequence[str],
    outer_key: Sequence[str],
    min_count: int,
) -> DataFrame:
    """Keep rows whose ``outer_key`` group has, in at least one ``inner_key``
    subgroup, >= ``min_count`` rows.

    Parity: m/z partitions qualify when some sample contributes >= 5 points
    (scripts/util/generate_slice_tensor.py:154-167); qualifying set applied
    back with ``isin`` — here a left-semi join.

    Scale: two partial-aggregating groupBys (map-side combine makes the
    first shuffle carry counts, not rows) then a semi-join of the fact table
    against a small qualifying-key set, which AQE converts to broadcast.
    """
    counts = df.groupBy(*inner_key).agg(F.count(F.lit(1)).alias("__cnt"))
    qualifying = (
        counts.groupBy(*outer_key)
        .agg(F.max("__cnt").alias("__maxc"))
        .filter(F.col("__maxc") >= min_count)
        .select(*outer_key)
    )
    return df.join(qualifying, on=list(outer_key), how="left_semi")


# ---------------------------------------------------------------------------
# W9 / J7 / W10 — deterministic ids, cartesian index, explode
# ---------------------------------------------------------------------------

def deterministic_id(
    df: DataFrame, order_cols: Sequence[str], id_col: str = "id", start: int = 0
) -> DataFrame:
    """Dense 0-based id assigned by an explicit total ordering.

    Parity: ``model_id = row index`` of the model table
    (scripts/parafac/models.py:76); sample_no from sorted filenames
    (generate_slice_tensor.py:249-253). Never
    ``monotonically_increasing_id`` — ids must be stable across runs and
    partitionings (SURVEY §2.5 W9).

    Scale: a global row_number is a single-partition window — acceptable
    only for dimension-sized inputs (model/file/window indexes, as in the
    reference). Fact-table ids at 100 TB should instead derive from data
    (hash or key arithmetic); this helper is for the index tables.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(id_col, (F.row_number().over(w) - 1 + start).cast("long"))


def cross_index(dims: Sequence[DataFrame], id_col: str = "model_id") -> DataFrame:
    """Cartesian product of dimension tables + deterministic dense id in
    product order (first dim slowest-varying).

    Parity: ``itertools.product(swath_starts, rt_windows, ncomp_range)``
    with the row index as model_id (scripts/parafac/models.py:61-78).

    Scale: all inputs are dimension-sized; Spark plans broadcast nested-loop
    products. The id ordering follows the product order exactly.
    """
    out = dims[0]
    order_cols: list[str] = list(dims[0].columns)
    for d in dims[1:]:
        out = out.crossJoin(F.broadcast(d))
        order_cols.extend(d.columns)
    return deterministic_id(out, order_cols, id_col)


def explode_index(
    index: DataFrame,
    count_col: str,
    ordinal_col: str = "spectrum_num",
    global_col: str = "scan",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Expand each index row into ``count_col`` rows (ordinal 0..n-1) and
    assign a deterministic global row id in (order_cols, ordinal) order.

    Parity: per-model spectrum expansion with global scan ids
    (scripts/parafac/models.py:81-117; golden grid models.py:206-225).

    Scale: ``explode(sequence(...))`` is a native generator — no Python.
    The global id is again index-table-sized (see deterministic_id).
    """
    order_cols = list(order_cols or index.columns)
    exploded = index.withColumn(
        ordinal_col,
        F.explode(F.sequence(F.lit(0), F.col(count_col).cast("int") - 1)),
    )
    w = Window.orderBy(*[F.col(c) for c in order_cols], F.col(ordinal_col))
    return exploded.withColumn(global_col, (F.row_number().over(w) - 1).cast("long"))


# ---------------------------------------------------------------------------
# F6 / A12 — per-group histogram cutoff filter
# ---------------------------------------------------------------------------

def histogram_cutoff_filter(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    nbins: int = 100,
    cutoff_bin: int = 0,
    subset: Column | None = None,
) -> DataFrame:
    """Background removal: per group, keep rows whose value is strictly above
    the **lower edge** of histogram bin ``cutoff_bin`` (``nbins`` equal-width
    bins over [min, max] of the group).

    Parity: per-spectrum 100-bin intensity histogram with
    ``cutoff = np.histogram(...)[1][cutoff_bin]`` — the lower edge of bin k —
    then ``intensity > cutoff`` (scripts/util/msproc.py:660-685). At the
    default k=0 only exact-minimum values drop. Degenerate all-equal groups
    mirror numpy's implicit range ``(v-0.5, v+0.5)``: edges are
    ``v-0.5 + k/nbins``, so at k=0 everything is kept.

    ``subset`` restricts both the histogram and the filter to rows matching
    the predicate; non-matching rows are always kept (the reference computes
    the histogram over MS2 rows only and keeps MS1 unconditionally,
    msproc.py:676-684).

    Scale: two analytic windows (min/max) over the group key — one shuffle,
    no applyInPandas, stays in whole-stage codegen.
    """
    w = Window.partitionBy(*group_cols)
    v = F.col(value_col)
    hv = v if subset is None else F.when(subset, v)
    mn = F.min(hv).over(w)
    mx = F.max(hv).over(w)
    cutoff = F.when(
        mx == mn, mn - 0.5 + F.lit(cutoff_bin / float(nbins))
    ).otherwise(mn + F.lit(float(cutoff_bin)) * (mx - mn) / F.lit(float(nbins)))
    keep = v > cutoff
    if subset is not None:
        keep = ~subset | keep
    return (
        df.withColumn("__keep", keep)
        .filter(F.col("__keep"))
        .drop("__keep")
    )
