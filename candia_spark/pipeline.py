"""The CANDIA pipeline façade: the reference's 10 config-driven stages
(``candia:1-69`` bash driver) composed from the operator layer as
DataFrame -> DataFrame functions under ONE SparkSession.

Stage map (reference process boundary -> here a function call):
 1. mzml2csv            -> sources.mzml + assign_swath_windows (S1-S3,F1,F2,J1)
 2. adjust_swaths       -> adjust_swath_windows              (W1,J2)
 3. split to slices     -> slice_scan_map                    (W2,S5)
 4. tensorize           -> tensorize_slices: one grouped map (W3,W4,A1,A5,J4,J8)
 5. decompose           -> decompose                         (K1,K2,F5,A10)
 6. index models        -> index_models                      (J7,W9,W10)
 7. collect time modes  -> time_mode_peaks                   (A11,F7)
 8. select best models  -> select_best_models                (A6,W5)
 9. collect sample modes-> collect_sample_modes              (A7,J3)
10. export spectra      -> export_best_models_mzxml          (S9,K5)

Config keys mirror ``test/test_experiment/config/candia.yaml`` names, so a
reference experiment file drives this pipeline unchanged.

Scale: stages 1-3 are narrow transforms and the slice-key shuffle of the
store; stage 4 shuffles once more on the slice key and tensorizes one
slice's points per pandas group — the reference's own unit, one slice per
process; stage 5 is an embarrassingly parallel applyInPandas fleet, one
group per (slice, rank) — the unit the reference schedules on GPUs —
spread over every core; 6-9 are dimension-sized. The
materialization barriers sit after slicing (the optional parquet slice
store) and after decomposition (``materialize.cut``, so the fleet runs
once however many stages read the factors) — both shrink or re-key the
data, exactly where the reference writes its stage files. The tiny
SWATH window dimension is built once, with its adjusted bounds and its
first-wins join bound, and cut: stages 1 and 2 are one broadcast join of
the points against it, and the export's window centres read it too, so
no per-row-sized plan re-runs the header walk or the dimension's
single-partition analytic windows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from candia_spark import telemetry
from candia_spark.operators.kernels import (
    count_time_mode_peaks,
    decompose_slices,
)
from candia_spark.operators.materialize import cut
from candia_spark.operators.relational import (
    adjust_overlapping_windows,
    bucketize,
    cross_index,
    explode_index,
    first_wins_lower_bound,
    groupwise_argmax,
)
from candia_spark.operators.sequential import tensorize_slice


@dataclass
class CandiaConfig:
    """The algorithm-relevant subset of candia.yaml (same key names)."""

    min_scan_intensity: float = 1.0
    window_size_sec: float = 60.0
    mass_tol_ppm: float = 40.0
    avg_peak_fwhm_sec: float = 12.0
    parafac_min_comp: int = 10
    parafac_max_comp: int = 14
    parafac_max_iter: int = 5000
    parafac_tol: float = 1e-7
    seed: int = 123
    min_tensor_points: int = 5
    extra: dict = field(default_factory=dict)

    @classmethod
    def from_yaml(cls, path: str) -> "CandiaConfig":
        import yaml

        with open(path) as f:
            raw = yaml.safe_load(f)
        known = {k: raw[k] for k in cls.__dataclass_fields__ if k in raw}
        cfg = cls(**known)
        cfg.extra = raw
        return cfg

    @property
    def ncomp_range(self) -> list[int]:
        return list(range(self.parafac_min_comp, self.parafac_max_comp + 1))


# --- stages 1-2: window assignment and adjustment (J1 + W1 + J2) ----------

def adjust_swath_windows(windows: DataFrame) -> DataFrame:
    """The SWATH window dimension: each header window's original bounds,
    its de-overlapped bounds (adjust_swaths.R:26-43) and its first-wins
    join lower bound ``__jlo`` (msproc.py:164-170).

    ``windows`` is the distinct header window set (``swath_lower``,
    ``swath_upper``; ``sources.mzml.header_windows``), as the reference
    adjusts the intervals file mzml2csv writes from the headers
    (candia:16-18, msproc.py:568-574). Every header window takes part in
    its neighbours' lead/lag adjustment, also one that another window
    shadows or that no surviving point falls in, as in the reference.

    Scale: two single-partition analytic windows over a dimension-sized
    table. The caller cuts it once; :func:`assign_swath_windows` and the
    export's window centres read the cut."""
    return adjust_overlapping_windows(
        windows.select(
            F.col("swath_lower").alias("lo"), F.col("swath_upper").alias("hi")
        ),
        lo_col="lo",
        hi_col="hi",
        digits=2,
    ).select(
        F.col("lo").alias("prec_isolation_window_start"),
        F.col("hi").alias("prec_isolation_window_end"),
        F.col("lower_adj").alias("swath_lower_adjusted"),
        F.col("upper_adj").alias("swath_upper_adjusted"),
        first_wins_lower_bound("lo", "hi").alias("__jlo"),
    )


def assign_swath_windows(points: DataFrame, windows: DataFrame) -> DataFrame:
    """Attach to each point its SWATH window's original and adjusted bounds
    and drop out-of-SWATH points, in one broadcast range join against the
    window dimension (:func:`adjust_swath_windows`). A point matches the
    window whose ``[__jlo, hi)`` holds its precursor m/z, so the first
    window by lower bound wins (msproc.py:164-170) and the point table
    never shuffles."""
    end = F.col("prec_isolation_window_end")
    winners = windows.filter(F.col("__jlo") < end)
    prec = F.col("prec_mz")
    return points.join(
        F.broadcast(winners), (prec >= F.col("__jlo")) & (prec < end)
    ).select(
        "prec_isolation_window_start",
        "prec_isolation_window_end",
        *points.columns,
        "swath_lower_adjusted",
        "swath_upper_adjusted",
    )


# --- stage 3: slicing (W2 + S5) -------------------------------------------

def slice_scan_map(
    scan_map: DataFrame, window_size_sec: float, out_path: str | None = None
) -> DataFrame:
    """Bucket rt into fixed windows and (optionally) persist the slice
    store Hive-partitioned by (swath_lower_adjusted, rt_window)
    (split_csv_maps_to_slices.py:69-100 minus its coalesce(1) anti-pattern
    — partitionBy alone yields one directory per slice and scales)."""
    sliced = bucketize(scan_map, "rt", window_size_sec, out_col="rt_window")
    if out_path is not None:
        parts = ["swath_lower_adjusted", "rt_window"]
        (
            sliced.repartition(*parts)
            .write.partitionBy(*parts)
            .mode("overwrite")
            .parquet(out_path)
        )
        # the store's schema given up front (the written columns, then the
        # partition columns as discovery infers them from the directory
        # names), so the read-back runs no footer-reading job
        schema = StructType(
            [f for f in sliced.schema if f.name not in parts]
            + [
                StructField("swath_lower_adjusted", DoubleType()),
                StructField("rt_window", IntegerType()),
            ]
        )
        sliced = sliced.sparkSession.read.schema(schema).parquet(out_path)
    return sliced


# --- stage 4: tensorize (W3 + W4 + A1 + A5/J4 + J8) -----------------------

def tensorize_slices(
    sliced: DataFrame,
    mass_tol_ppm: float,
    min_tensor_points: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Long-format slice tensors: one row per (slice, sample_no, cycle,
    mz_idx) with summed intensity (generate_slice_tensor.py:67-178), and
    the m/z dimension: one row per (slice, level, mz_partition_start) with
    its ``mz_idx``.

    One grouped map per slice: the slice's points (only the columns the
    kernel reads) shuffle once on the slice key, and
    ``sequential.tensorize_slice`` bins them into cycles (W3), partitions
    the m/z (W4), filters the partitions (A5/J4), numbers ``sample_no``
    and ``mz_idx`` within the slice (J8/W6) and sums the cells in pandas.
    Both ids number WITHIN the slice: a factor's row_idx is a position in
    its slice's tensor, and the export joins mz_idx to it. ``mz_dim`` is
    a distinct projection of the same grouped map. The shuffle's partition
    count is left to AQE, which sizes it by bytes: the kernel costs little
    per byte, unlike the decomposition fleet."""
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    points = sliced.select(*slice_cols, "sample", "level", "rt", "mz", "intensity")
    schema = StructType(
        [points.schema[c] for c in slice_cols]
        + [
            StructField("sample_no", LongType(), False),
            StructField("cycle", LongType()),
            StructField("mz_idx", LongType(), False),
            points.schema["level"],
            StructField("mz_partition_start", DoubleType()),
            StructField("intensity", DoubleType()),
        ]
    )

    def tensorize(key, pdf):
        cells = tensorize_slice(pdf, mass_tol_ppm, min_tensor_points)
        return cells.assign(**dict(zip(slice_cols, key)))[schema.fieldNames()]

    cells = points.groupBy(*slice_cols).applyInPandas(tensorize, schema)
    tensor_long = cells.select(*slice_cols, "sample_no", "cycle", "mz_idx", "intensity")
    mz_dim = cells.select(*slice_cols, "level", "mz_partition_start", "mz_idx").distinct()
    return tensor_long, mz_dim


# --- stage 5: decomposition (K1 + K2 + F5 + A10) --------------------------

def decompose(
    tensor_long: DataFrame,
    cfg: CandiaConfig,
    ncomp_range: list[int] | None = None,
    max_iter: int | None = None,
) -> DataFrame:
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    return decompose_slices(
        tensor_long,
        slice_cols,
        ncomp_range=ncomp_range or cfg.ncomp_range,
        sample_col="sample_no",
        time_col="cycle",
        feature_col="mz_idx",
        value_col="intensity",
        seed=cfg.seed,
        max_iter=max_iter or cfg.parafac_max_iter,
        tol=cfg.parafac_tol,
    )


# --- stage 6: model / spectrum index (J7 + W9 + W10) ----------------------

def index_models(factors: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Model index = cross of observed (swath, rt_window) slices with the
    decomposed ncomp range; spectrum index = one row per component
    (models.py:61-117): globally unique scan ids by deterministic order."""
    slices = factors.select("swath_lower_adjusted", "rt_window").distinct()
    ncomps = factors.select("ncomp").distinct()
    model_index = cross_index([slices, ncomps], id_col="model_id")
    spectrum_index = explode_index(model_index, count_col="ncomp")
    return model_index, spectrum_index


# --- stage 7: time-mode peak counting (A11 + F7) --------------------------

def time_mode_peaks(factors: DataFrame, cfg: CandiaConfig) -> DataFrame:
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    time_modes = factors.filter(F.col("mode") == 1)
    return count_time_mode_peaks(
        time_modes,
        slice_cols,
        clip_frac=0.1,
        peak_width_frac=cfg.avg_peak_fwhm_sec / cfg.window_size_sec,
    )


# --- stage 8: best-model selection (A6 + W5) ------------------------------

def select_best_models(peaks: DataFrame) -> DataFrame:
    """unimodal_fraction = mean(npeaks == 1) per model; keep per-slice
    argmax with ties (select_best_models.R:16-36)."""
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    uf = peaks.groupBy(*slice_cols, "ncomp").agg(
        F.avg(F.when(F.col("npeaks") == 1, 1.0).otherwise(0.0)).alias(
            "unimodal_fraction"
        )
    )
    return groupwise_argmax(uf, slice_cols, "unimodal_fraction")


# --- stage 9: sample modes + CV (A7 + J3) ---------------------------------

def collect_sample_modes(factors: DataFrame, best: DataFrame) -> DataFrame:
    """Sample-mode abundances of the best models with per-component
    coefficient of variation (collect_sample_modes.py:65-95). The CV and
    the sample count are window aggregates over each component's rows, so
    the sample modes are not joined back onto their own aggregate."""
    slice_cols = ["swath_lower_adjusted", "rt_window"]
    comp = Window.partitionBy(*slice_cols, "ncomp", "comp")
    return (
        factors.filter(F.col("mode") == 0)
        .join(F.broadcast(best.select(*slice_cols, "ncomp")), on=slice_cols + ["ncomp"])
        .select(
            *slice_cols,
            "ncomp",
            "comp",
            F.col("row_idx").alias("sample_no"),
            F.col("value").alias("abundance"),
            (F.stddev_pop("value").over(comp) / F.avg("value").over(comp)).alias(
                "cv_across_samples"
            ),
            F.count(F.lit(1)).over(comp).alias("n_samples"),
        )
    )


# --- stage 10: spectra export (S9 + K5) -----------------------------------

def export_best_models_mzxml(
    factors: DataFrame,
    best: DataFrame,
    mz_dim: DataFrame,
    spectrum_index: DataFrame,
    path: str,
    window_centers: DataFrame | None = None,
    intensity_cutoff_bin: int = 0,
) -> int:
    """Mass-mode components of the best models -> indexed mzXML, ordered
    by global scan id; single driver-side writer over toLocalIterator
    (msproc.py:229-420 byte format).

    Before serialization each component's MS2 points pass the per-component
    background filter: 100-bin histogram over that component's MS2
    intensities, keep ``intensity > lower edge of bin intensity_cutoff_bin``;
    MS1 points are kept unconditionally (msproc.py:270-274 call site,
    filter at msproc.py:661-685). Components whose points all drop simply
    emit no scan, matching the reference's empty-spectrum skip."""
    from candia_spark.operators.relational import histogram_cutoff_filter
    from candia_spark.sources.mzxml import iter_component_scans, write_mzxml

    slice_cols = ["swath_lower_adjusted", "rt_window"]
    mass = factors.filter(F.col("mode") == 2).join(
        F.broadcast(best.select(*slice_cols, "ncomp")), on=slice_cols + ["ncomp"]
    )
    with_scan = mass.join(
        F.broadcast(spectrum_index),
        on=slice_cols + ["ncomp"],
    ).filter(F.col("comp") == F.col("spectrum_num"))
    joined = with_scan.join(
        mz_dim.withColumnRenamed("mz_idx", "row_idx"), on=slice_cols + ["row_idx"]
    )
    if window_centers is not None:
        joined = joined.join(F.broadcast(window_centers), on="swath_lower_adjusted", how="left")
        center = F.coalesce(F.col("window_center"), F.col("swath_lower_adjusted"))
    else:
        center = F.col("swath_lower_adjusted")
    rows = joined.select(
        F.col("scan").alias("scan_no"),
        "level",
        F.col("mz_partition_start").alias("mz"),
        F.col("value").alias("intensity"),
        center.cast("double").alias("window_center"),
    )
    rows = histogram_cutoff_filter(
        rows,
        ["scan_no"],
        "intensity",
        nbins=100,
        cutoff_bin=intensity_cutoff_bin,
        subset=F.col("level") == 2,
    ).orderBy("scan_no", "mz")
    return write_mzxml(path, iter_component_scans(rows.toLocalIterator()))


# --- identification seam (S13 + J5 + spectrum index) ----------------------

def identify_results(
    reports: dict[str, DataFrame],
    spectrum_index: DataFrame,
    adjusted_windows: DataFrame | None = None,
    tol: float = 1e-5,
) -> DataFrame:
    """Concatenated identification table: per-tool search/de-novo reports
    resolved to their models.

    Parity: the reference joins search results back to the model index by
    scan id and matches each model's swath_start to the adjusted isolation
    windows with ``np.isclose`` to recover the window center
    (scripts/identification/id_models_concat.py:85-90; report parsing
    scripts/denovo/seqproc.py:23-58). Here: normalize every tool report to
    (scan, sequence?, score?, qvalue?) + a ``tool`` provenance column,
    union them column-aligned (U2), resolve scan -> model via the spectrum
    index, and attach ``isolation_window_center`` with a tolerance band
    join (J5) instead of the float ``isclose`` scan.

    Scale: reports are result-sized; the spectrum index and window set are
    dimension-sized broadcasts — no fact-table shuffle anywhere.
    """
    from candia_spark.operators.relational import band_join

    norm = []
    for tool, df in reports.items():
        cols = [F.col("scan").cast("long").alias("scan")]
        for c in ("sequence", "score", "qvalue"):
            if c in df.columns:
                cols.append(F.col(c))
        norm.append(df.select(*cols).withColumn("tool", F.lit(tool)))
    ids = norm[0]
    for d in norm[1:]:
        ids = ids.unionByName(d, allowMissingColumns=True)
    out = ids.join(F.broadcast(spectrum_index), on="scan", how="inner")
    if adjusted_windows is not None:
        centers = (
            adjusted_windows.select(
                "swath_lower_adjusted", "swath_upper_adjusted"
            )
            .distinct()
            .select(
                F.col("swath_lower_adjusted").alias("__wlo"),
                (
                    (
                        F.col("swath_lower_adjusted")
                        + F.col("swath_upper_adjusted")
                    )
                    / 2
                ).alias("isolation_window_center"),
            )
        )
        out = band_join(
            out, F.broadcast(centers), "swath_lower_adjusted", "__wlo", tol, how="left"
        ).drop("__wlo")
    return out


# --- full run -------------------------------------------------------------

def run_pipeline(
    spark: SparkSession,
    mzml_paths: list[str],
    cfg: CandiaConfig,
    ncomp_range: list[int] | None = None,
    max_iter: int | None = None,
    slice_store_path: str | None = None,
    mzxml_out: str | None = None,
) -> dict[str, DataFrame]:
    """Stages 1-9 (+10 when ``mzxml_out`` is set). Returns the per-stage
    DataFrames for inspection/persistence.

    The SWATH window dimension is built from the mzML headers and cut
    first (one header walk; its row count, the number of distinct header
    windows, is recorded as telemetry op ``windows``). One broadcast join
    against the cut gives every point its original and adjusted window
    bounds (stages 1 and 2), and the export's window centres read the same
    cut. The run is eager through stage 5: the decomposition fleet runs
    once, inside this call, through ``materialize.cut``, and the returned
    ``factors`` and stages 6-10 read the cut rows instead of re-running the
    fleet once per consumer. The cut's row and partition counts are
    recorded as telemetry op ``fleet``. On the cut's persist leg (executors
    may be removed) the factors stay cached until the session's cache is
    cleared, as every persist-leg cut does."""
    from candia_spark.sources.mzml import header_windows, read_mzml_points

    windows, win_stats = cut(
        adjust_swath_windows(header_windows(spark, mzml_paths)),
        F.count(F.lit(1)).alias("rows"),
    )
    telemetry.record("windows", rows=win_stats["rows"])
    points = read_mzml_points(spark, mzml_paths, cfg.min_scan_intensity)
    adjusted = assign_swath_windows(points, windows)
    scan_map = adjusted.select(
        *points.columns, "prec_isolation_window_start", "prec_isolation_window_end"
    )
    sliced = slice_scan_map(adjusted, cfg.window_size_sec, slice_store_path)
    tensor_long, mz_dim = tensorize_slices(
        sliced, cfg.mass_tol_ppm, cfg.min_tensor_points
    )
    factors, stats = cut(
        decompose(tensor_long, cfg, ncomp_range, max_iter),
        F.count(F.lit(1)).alias("rows"),
    )
    telemetry.record(
        "fleet", rows=stats["rows"], partitions=factors.rdd.getNumPartitions()
    )
    model_index, spectrum_index = index_models(factors)
    peaks = time_mode_peaks(factors, cfg)
    best = select_best_models(peaks)
    sample_modes = collect_sample_modes(factors, best)
    out = {
        "scan_map": scan_map,
        "adjusted": adjusted,
        "sliced": sliced,
        "tensor_long": tensor_long,
        "mz_dim": mz_dim,
        "factors": factors,
        "model_index": model_index,
        "spectrum_index": spectrum_index,
        "peaks": peaks,
        "best_models": best,
        "sample_modes": sample_modes,
    }
    if mzxml_out is not None:
        centers = windows.select(
            "swath_lower_adjusted",
            (
                (F.col("swath_lower_adjusted") + F.col("swath_upper_adjusted")) / 2
            ).alias("window_center"),
        ).distinct()
        export_best_models_mzxml(
            factors, best, mz_dim, spectrum_index, mzxml_out, window_centers=centers
        )
    return out
