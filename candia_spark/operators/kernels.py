"""Numeric kernels (SURVEY §2.8): non-negative PARAFAC decomposition,
missing-value imputation, peak counting, scan reconstruction.

The reference runs one Python/GPU process per (slice, ncomp) pair scheduled
by Snakemake/slurm (decompose_parafac.Snakefile, decompose_cluster.sh). Here
the same fleet is Spark tasks: ``groupBy(slice keys, rank).applyInPandas``
over a fixed ``defaultParallelism`` partitions, embarrassingly parallel
across executors — the scheduling layer the reference hand-builds is
Spark's own.

All kernels are pure numpy (no scipy/torch/tensorly in this environment).
NN-PARAFAC uses the standard multiplicative-update ALS for non-negative CP
(Lee & Seung 1999 updates generalized to CP per Bro 1997; the reference
forks tensorly 0.4.3's version of the same algorithm at
scripts/parafac/decompose_parafac.py:314-355). Numerical parity is
tolerance-based by design — the reference itself asserts only atol=1e-2 on
factors (decompose_parafac.py:560-563).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

_EPS = 1e-12


# ---------------------------------------------------------------------------
# K3 — mode scaling (DORMANT in the reference: preprocess/postprocess are
# defined at decompose_parafac.py:202-234 but never called from main();
# parity therefore means NOT applying them by default — they exist behind
# an explicit flag, SURVEY §7.3 item 6)
# ---------------------------------------------------------------------------

def rms_scale_tensor(tensor: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Scale each m/z slab of a (sample x time x mz) tensor by its RMS
    (decompose_parafac.py:202-226 semantics). Returns (scaled tensor,
    per-slab weights) — weights invert the scaling on the mass mode."""
    weights = np.sqrt(np.nanmean(np.square(tensor), axis=(0, 1)))
    weights = np.where(weights > 0, weights, 1.0)
    return tensor / weights[None, None, :], weights


def unscale_mass_mode(
    mass_mode: np.ndarray, weights: np.ndarray, ms1_indices: Sequence[int] = ()
) -> np.ndarray:
    """Invert K3 on the mass-mode factor matrix (rows = m/z slabs) and
    apply the reference's x1000 MS1 boost (decompose_parafac.py:229-234)."""
    out = mass_mode * weights[:, None]
    if len(ms1_indices):
        out = out.copy()
        out[list(ms1_indices), :] *= 1000.0
    return out


# ---------------------------------------------------------------------------
# K1 — missing-value imputation (Gaussian blur along the time axis)
# ---------------------------------------------------------------------------

def gaussian_kernel(stddev: float = 0.5, size: int = 5) -> np.ndarray:
    x = np.arange(size, dtype=np.float64) - (size - 1) / 2.0
    k = np.exp(-0.5 * (x / stddev) ** 2)
    return k / k.sum()


def impute_chromatogram(col: np.ndarray, stddev: float = 0.5, size: int = 5) -> np.ndarray:
    """Fill NaNs in one (sample, m/z) time series with a NaN-aware Gaussian
    blur; keep original values where present; residual NaN -> 0; clip >= 0.

    Parity: decompose_parafac.py:129-153 (astropy ``convolve`` semantics:
    missing values get the normalized weighted mean of present neighbors).
    """
    out = col.astype(np.float64).copy()
    nan_mask = np.isnan(out)
    if not nan_mask.any():
        return np.clip(out, 0.0, None)
    # np.convolve(mode="same") returns max(M, N) elements — keep the kernel
    # no longer than the series (odd length) so shapes line up.
    size = min(size, len(out) if len(out) % 2 == 1 else len(out) - 1)
    if size < 1:
        out[nan_mask] = 0.0
        return np.clip(out, 0.0, None)
    k = gaussian_kernel(stddev, size)
    vals = np.where(nan_mask, 0.0, out)
    present = (~nan_mask).astype(np.float64)
    num = np.convolve(vals, k, mode="same")
    den = np.convolve(present, k, mode="same")
    blurred = np.divide(num, den, out=np.zeros_like(num), where=den > _EPS)
    out[nan_mask] = blurred[nan_mask]
    out[np.isnan(out)] = 0.0
    return np.clip(out, 0.0, None)


def _blur_axis1(arr: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Correlate along axis 1 with a symmetric odd-length kernel — identical
    to per-column ``np.convolve(col, k, mode="same")`` (convolution ==
    correlation for symmetric k), but one vectorized pass over all
    (sample, m/z) columns instead of an O(S·M) Python loop."""
    h = (len(k) - 1) // 2
    padded = np.pad(arr, ((0, 0), (h, h), (0, 0)))
    out = np.zeros_like(arr)
    for j, w in enumerate(k):
        out += w * padded[:, j : j + arr.shape[1], :]
    return out


def impute_tensor(tensor: np.ndarray, stddev: float = 0.5, size: int = 5) -> np.ndarray:
    """Apply K1 along the time axis (axis 1) of a (sample, time, mz) tensor.

    Vectorized across all (sample, m/z) columns; exact same result as
    mapping :func:`impute_chromatogram` over each column (pinned by
    tests/test_kernels.py)."""
    out = tensor.astype(np.float64).copy()
    nan_mask = np.isnan(out)
    if not nan_mask.any():
        return np.clip(out, 0.0, None)
    t_len = out.shape[1]
    size = min(size, t_len if t_len % 2 == 1 else t_len - 1)
    if size < 1:
        out[nan_mask] = 0.0
        return np.clip(out, 0.0, None)
    k = gaussian_kernel(stddev, size)
    vals = np.where(nan_mask, 0.0, out)
    present = (~nan_mask).astype(np.float64)
    num = _blur_axis1(vals, k)
    den = _blur_axis1(present, k)
    blurred = np.divide(num, den, out=np.zeros_like(num), where=den > _EPS)
    out[nan_mask] = blurred[nan_mask]
    out[np.isnan(out)] = 0.0
    return np.clip(out, 0.0, None)


# ---------------------------------------------------------------------------
# K2 — non-negative PARAFAC (CP) via multiplicative-update ALS
# ---------------------------------------------------------------------------

def _khatri_rao(mats: Sequence[np.ndarray]) -> np.ndarray:
    rank = mats[0].shape[1]
    out = mats[0]
    for m in mats[1:]:
        out = (out[:, None, :] * m[None, :, :]).reshape(-1, rank)
    return out


def _unfold(tensor: np.ndarray, mode: int) -> np.ndarray:
    return np.moveaxis(tensor, mode, 0).reshape(tensor.shape[mode], -1)


def _reconstruct(factors: Sequence[np.ndarray]) -> np.ndarray:
    shape = tuple(f.shape[0] for f in factors)
    full = factors[0] @ _khatri_rao(factors[1:]).T
    return full.reshape(shape)


def nn_parafac(
    tensor: np.ndarray,
    rank: int,
    seed: int = 123,
    max_iter: int = 5000,
    tol: float = 1e-7,
    backend: str = "numpy",
    device: str = "cpu",
) -> tuple[list[np.ndarray], float, int]:
    """Non-negative CP decomposition by multiplicative updates.

    Per iteration per mode n:
      A_n <- A_n * (X_(n) @ KR(others)) / (A_n @ hadamard(gram(others)) + eps)
    Stops when |Δ rec_error| < tol or max_iter. Returns
    (factors, rsq, iterations) where rsq = 1 - (||X-X̂||_F/||X||_F)^2
    (parity: decompose_parafac.py:107,307-311).

    ``backend="torch"`` runs the identical update loop on torch tensors
    on ``device`` — the reference's GPU option (decompose_parafac.py:
    36-47 CUDA-MPS init, :114-126 tensor-on-device override; SURVEY
    §7.1 step 7). Both backends start from the SAME numpy-seeded
    factors, so results agree to floating-point reassociation — the
    parity test gates them at the reference's own bar, atol 1e-2 on
    thresholded mode loadings (decompose_parafac.py:560-563). torch is
    optional (import-gated): absent torch raises ImportError naming the
    knob, and the numpy path — the default, and the one the q23
    goldens certify bit-for-bit — never touches it. Factor layout,
    return contract, and iteration count are backend-independent.
    """
    if backend not in ("numpy", "torch"):
        raise ValueError(f"backend must be 'numpy' or 'torch', got {backend!r}")
    if max_iter < 1:
        # the two backends disagree on max_iter=0 (numpy would NameError
        # on the unset err, torch would silently report rsq=1.0/iters=0)
        # — refuse the degenerate input before dispatch (advice r9 #5)
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    ndim = tensor.ndim
    rng = np.random.default_rng(seed)
    factors = [
        np.asarray(rng.random((tensor.shape[n], rank)) + 0.1) for n in range(ndim)
    ]
    norm_x = np.linalg.norm(tensor)
    if norm_x == 0:
        return factors, 1.0, 0
    if backend == "torch":
        return _nn_parafac_torch(
            tensor, factors, float(norm_x), max_iter, tol, device
        )
    prev_err = np.inf
    iters = 0
    for it in range(1, max_iter + 1):
        iters = it
        for n in range(ndim):
            others = [factors[m] for m in range(ndim) if m != n]
            kr = _khatri_rao(others)
            numer = _unfold(tensor, n) @ kr
            gram = np.ones((rank, rank))
            for o in others:
                gram *= o.T @ o
            denom = factors[n] @ gram + _EPS
            factors[n] = factors[n] * numer / denom
        err = np.linalg.norm(tensor - _reconstruct(factors)) / norm_x
        if abs(prev_err - err) < tol:
            break
        prev_err = err
    rsq = 1.0 - err**2
    return factors, float(rsq), iters


def _nn_parafac_torch(
    tensor: np.ndarray,
    init_factors: list[np.ndarray],
    norm_x: float,
    max_iter: int,
    tol: float,
    device: str,
) -> tuple[list[np.ndarray], float, int]:
    """The torch leg of :func:`nn_parafac`: the same multiplicative-
    update loop on torch float64 tensors on ``device``. Split out so
    the import gate sits at the call, not at module load — this
    sandbox has no torch; deployments with it flip ``backend="torch"``
    (and ``device="cuda:N"``) to put the reference's single biggest
    compute stage (6-12 h of decompositions, BASELINE.md) on GPU."""
    try:
        import torch
    except ImportError as exc:  # pragma: no cover - torch absent in CI
        raise ImportError(
            "nn_parafac(backend='torch') requires torch, which is not "
            "installed — use the default backend='numpy' or install "
            "torch (CPU builds suffice for parity; CUDA for speed)."
        ) from exc

    rank = init_factors[0].shape[1]
    x = torch.tensor(tensor, dtype=torch.float64, device=device)
    factors = [
        torch.tensor(f, dtype=torch.float64, device=device)
        for f in init_factors
    ]
    ndim = x.ndim

    def kr(mats):
        out = mats[0]
        for m in mats[1:]:
            out = (out.unsqueeze(1) * m.unsqueeze(0)).reshape(-1, rank)
        return out

    def unfold(t, mode):
        return torch.movedim(t, mode, 0).reshape(t.shape[mode], -1)

    prev_err = float("inf")
    iters = 0
    err = torch.tensor(0.0, dtype=torch.float64, device=device)
    for it in range(1, max_iter + 1):
        iters = it
        for n in range(ndim):
            others = [factors[m] for m in range(ndim) if m != n]
            numer = unfold(x, n) @ kr(others)
            gram = torch.ones((rank, rank), dtype=torch.float64, device=device)
            for o in others:
                gram = gram * (o.T @ o)
            denom = factors[n] @ gram + _EPS
            factors[n] = factors[n] * numer / denom
        recon = (factors[0] @ kr(factors[1:]).T).reshape(x.shape)
        err = torch.linalg.norm(x - recon) / norm_x
        if abs(prev_err - float(err)) < tol:
            break
        prev_err = float(err)
    rsq = 1.0 - float(err) ** 2
    return [f.cpu().numpy() for f in factors], float(rsq), iters


# ---------------------------------------------------------------------------
# A11 — peak counting (numpy-only; scipy absent in this environment)
# ---------------------------------------------------------------------------

def count_peaks(series: np.ndarray, clip_frac: float = 0.1, smooth: int = 3) -> int:
    """Fast peak counter for a 1-D non-negative series: clip values
    <= clip_frac * max to 0 (parity: collect_time_mode_values.py:81-84,
    F7), box-smooth, count strict local maxima of the smoothed signal.

    This is the cheap O(n) fallback; the reference-faithful path is
    ``functions.cwt.count_peaks_cwt`` (ridge-line CWT, the
    ``find_peaks_cwt`` algorithm), which ``count_time_mode_peaks`` uses
    whenever an expected peak width is supplied.
    """
    x = np.asarray(series, dtype=np.float64)
    if x.size < 3 or np.all(x <= 0) or np.nanmax(x) <= 0:
        return 0
    x = np.where(x <= clip_frac * np.nanmax(x), 0.0, x)
    if smooth > 1:
        # edge-normalized box smoothing: constants stay constant (a plain
        # zero-padded convolve would fabricate edge bumps -> false peaks)
        k = np.ones(min(smooth, x.size)) / min(smooth, x.size)
        num = np.convolve(x, k, mode="same")
        den = np.convolve(np.ones_like(x), k, mode="same")
        x = num / den
    # a peak = a rise followed (through any plateau) by a fall
    s = np.sign(np.diff(x))
    s_nz = s[s != 0]
    if s_nz.size < 2:
        return 0
    return int(np.sum((s_nz[:-1] > 0) & (s_nz[1:] < 0)))


# ---------------------------------------------------------------------------
# Slice-parallel decomposition over a long tensor table
# ---------------------------------------------------------------------------

def decompose_slices(
    tensor_long: DataFrame,
    group_cols: Sequence[str],
    ncomp_range: Sequence[int],
    sample_col: str = "sample_no",
    time_col: str = "cycle",
    feature_col: str = "mz_idx",
    value_col: str = "intensity",
    seed: int = 123,
    max_iter: int = 2000,
    tol: float = 1e-7,
    min_dims: tuple[int, int, int] = (2, 3, 3),
    impute: bool = True,
    mode_scaling: bool = False,
) -> DataFrame:
    """Decompose every slice of a long-format tensor table into non-negative
    CP factors for each rank in ``ncomp_range``.

    ``mode_scaling=False`` by default — the reference defines K3 RMS slab
    scaling but never invokes it from main() (dormant code,
    decompose_parafac.py:202-234); enabling it scales each m/z slab to
    unit RMS before decomposition and inverts the scaling on the mass
    mode after.

    Input: one row per present (slice, sample, cycle, mz_idx) cell; absent
    cells are missing (NaN in the dense tensor; K1 imputes them).
    Output long factor table: group_cols + (ncomp, mode, row_idx, comp,
    value, rsq, iterations); mode 0=sample, 1=time, 2=mass (FIXTURES.md T8).
    Slices failing the trivial-tensor guard (dims < min_dims,
    decompose_parafac.py:289-295) emit no rows.

    Scale: one group per **(slice, ncomp)** pair — the reference's own
    scheduling unit (decompose_parafac.Snakefile:15-36, one Snakemake job
    per slice×rank). The rank range is exploded onto the tensor rows
    before the grouped map, so a 5-rank sweep yields 5× the groups instead
    of 5×-longer groups; ~10^4-10^5 independent small tensors saturate any
    executor fleet (replacing decompose_workstation.sh:9-46). The groups
    are hash-spread over ``defaultParallelism`` partitions by an explicit
    repartition on the grouping key, which the grouped map reuses (no
    second exchange): AQE would otherwise coalesce the few-MB shuffle to
    one task, since it sizes partitions by bytes and cannot see the ALS
    cost of a group, and a repartition to a fixed count is exempt from
    that coalescing. The shuffle carries each slice |ncomp_range|× — slice
    tensors are small by construction (a SWATH x RT window), and
    imputation is recomputed per rank (cheap relative to ALS). Executor
    memory bounds hold. The result is lazy: a caller with several
    consumers cuts it once (``pipeline.run_pipeline`` does), or each
    consumer re-runs the fleet.
    """
    group_cols = list(group_cols)
    ranks = sorted({int(r) for r in ncomp_range})
    out_schema = StructType(
        [tensor_long.schema[c] for c in group_cols]
        + [
            StructField("ncomp", IntegerType()),
            StructField("mode", IntegerType()),
            StructField("row_idx", IntegerType()),
            StructField("comp", IntegerType()),
            StructField("value", DoubleType()),
            StructField("rsq", DoubleType()),
            StructField("iterations", IntegerType()),
        ]
    )

    def decompose(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rank = int(key[-1])
        samples = np.sort(pdf[sample_col].unique())
        times = np.sort(pdf[time_col].unique())
        feats = np.sort(pdf[feature_col].unique())
        if (
            len(samples) < min_dims[0]
            or len(times) < min_dims[1]
            or len(feats) < min_dims[2]
        ):
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        s_ix = {v: i for i, v in enumerate(samples)}
        t_ix = {v: i for i, v in enumerate(times)}
        f_ix = {v: i for i, v in enumerate(feats)}
        tensor = np.full((len(samples), len(times), len(feats)), np.nan)
        tensor[
            pdf[sample_col].map(s_ix).to_numpy(),
            pdf[time_col].map(t_ix).to_numpy(),
            pdf[feature_col].map(f_ix).to_numpy(),
        ] = pdf[value_col].to_numpy(dtype=np.float64)
        tensor = impute_tensor(tensor) if impute else np.nan_to_num(tensor)
        weights = None
        if mode_scaling:
            tensor, weights = rms_scale_tensor(tensor)

        factors, rsq, iters = nn_parafac(
            tensor, rank, seed=seed, max_iter=max_iter, tol=tol
        )
        if weights is not None:
            factors = list(factors)
            factors[2] = unscale_mass_mode(factors[2], weights)
        frames = []
        for mode, fac in enumerate(factors):
            rows, comps = np.indices(fac.shape)
            frames.append(
                pd.DataFrame(
                    {
                        "ncomp": rank,
                        "mode": mode,
                        "row_idx": rows.ravel(),
                        "comp": comps.ravel(),
                        "value": fac.ravel(),
                        "rsq": rsq,
                        "iterations": iters,
                    }
                )
            )
        out = pd.concat(frames, ignore_index=True)
        for i, c in enumerate(group_cols):
            out.insert(i, c, key[i])
        return out

    expanded = tensor_long.withColumn(
        "__ncomp", F.explode(F.array(*[F.lit(r) for r in ranks]))
    ).repartition(
        tensor_long.sparkSession.sparkContext.defaultParallelism,
        *group_cols,
        "__ncomp",
    )
    return expanded.groupBy(*group_cols, "__ncomp").applyInPandas(
        decompose, out_schema
    )


# ---------------------------------------------------------------------------
# K4 — scan reconstruction from factors
# ---------------------------------------------------------------------------

def reconstruct_scans(
    factors_long: DataFrame,
    group_cols: Sequence[str],
    components: Sequence[int] | None = None,
) -> DataFrame:
    """Reconstruct per-sample scans from CP factors:
    X̂[s, t, m] = Σ_k sample[s,k] · time[t,k] · mass[m,k], optionally over a
    component subset (the reference reconstructs only unimodal components,
    reconstruct_scan.py:52-134).

    Output: group_cols + (sample_no, cycle, mz_idx, intensity).
    """
    group_cols = list(group_cols)
    out_schema = StructType(
        [factors_long.schema[c] for c in group_cols]
        + [
            StructField("sample_no", IntegerType()),
            StructField("cycle", IntegerType()),
            StructField("mz_idx", IntegerType()),
            StructField("intensity", DoubleType()),
        ]
    )
    comp_filter = list(components) if components is not None else None

    def rebuild(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if comp_filter is not None:
            pdf = pdf[pdf["comp"].isin(comp_filter)]
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        mats = []
        for mode in (0, 1, 2):
            sub = pdf[pdf["mode"] == mode]
            mat = (
                sub.pivot_table(index="row_idx", columns="comp", values="value")
                .sort_index()
                .to_numpy()
            )
            mats.append(np.nan_to_num(mat))
        tensor = np.einsum("sk,tk,mk->stm", *mats)
        s, t, m = np.indices(tensor.shape)
        out = pd.DataFrame(
            {
                "sample_no": s.ravel(),
                "cycle": t.ravel(),
                "mz_idx": m.ravel(),
                "intensity": tensor.ravel(),
            }
        )
        for i, c in enumerate(group_cols):
            out.insert(i, c, key[i])
        return out

    return factors_long.groupBy(*group_cols).applyInPandas(rebuild, out_schema)


# ---------------------------------------------------------------------------
# A11 as a distributed operator: peak counts per (model, component)
# ---------------------------------------------------------------------------

def count_time_mode_peaks(
    factors_long: DataFrame,
    group_cols: Sequence[str],
    clip_frac: float = 0.1,
    peak_width_frac: float | None = None,
) -> DataFrame:
    """Per (slice-group, ncomp, comp): number of peaks in the time-mode
    column (parity: collect_time_mode_values.py:54-87 + the F7 low-value
    clip). Input = decompose_slices output filtered to mode==1.

    With ``peak_width_frac`` (= avg_peak_fwhm_sec / window_size_sec, the
    reference's config-derived ratio at collect_time_mode_values.py:64-66)
    the reference-faithful CWT ridge-line counter runs with
    ``expected_peak_width = series_length * peak_width_frac``; without it
    the cheap local-maxima counter is used."""
    from candia_spark.functions.cwt import count_peaks_cwt

    group_cols = list(group_cols)
    out_schema = StructType(
        [factors_long.schema[c] for c in group_cols]
        + [
            StructField("ncomp", IntegerType()),
            StructField("comp", IntegerType()),
            StructField("npeaks", IntegerType()),
        ]
    )

    def count(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for (rank, comp), sub in pdf[pdf["mode"] == 1].groupby(["ncomp", "comp"]):
            series = sub.sort_values("row_idx")["value"].to_numpy()
            if peak_width_frac is not None:
                n = count_peaks_cwt(
                    series, len(series) * peak_width_frac, clip_frac
                )
            else:
                n = count_peaks(series, clip_frac)
            rows.append({"ncomp": rank, "comp": comp, "npeaks": n})
        out = pd.DataFrame(rows, columns=["ncomp", "comp", "npeaks"])
        for i, c in enumerate(group_cols):
            out.insert(i, c, key[i])
        return out

    return factors_long.groupBy(*group_cols).applyInPandas(count, out_schema)
