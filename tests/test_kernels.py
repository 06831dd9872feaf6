"""Kernel tests: NN-PARAFAC recovers a known low-rank non-negative tensor;
imputation and peak counting behave per spec (SURVEY §2.8, FIXTURES.md T8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from candia_spark.operators.kernels import (
    count_peaks,
    count_time_mode_peaks,
    decompose_slices,
    impute_chromatogram,
    nn_parafac,
    reconstruct_scans,
)


def _synthetic_rank2(seed: int = 123):
    """Known spectra x Gaussian elution x random mixing — the construction
    of the reference's decomposition self-test (spec: FIXTURES.md T8), built
    independently here."""
    rng = np.random.default_rng(seed)
    mass = np.array([[1.0, 0.0], [0.8, 0.1], [0.0, 1.0], [0.1, 0.9], [0.5, 0.5]])
    t = np.arange(20, dtype=float)
    time = np.stack(
        [np.exp(-0.5 * ((t - 6.0) / 2.0) ** 2), np.exp(-0.5 * ((t - 13.0) / 2.0) ** 2)],
        axis=1,
    )
    sample = rng.random((10, 2)) + 0.05
    tensor = np.einsum("sk,tk,mk->stm", sample, time, mass)
    return tensor, (sample, time, mass)


def _best_cosine_match(est: np.ndarray, true: np.ndarray) -> float:
    """Min over true components of the best cosine similarity achieved by
    any estimated component (CP is permutation/scale ambiguous)."""

    def unit(m):
        return m / (np.linalg.norm(m, axis=0, keepdims=True) + 1e-12)

    sims = unit(true).T @ unit(est)  # (true_comps, est_comps)
    return float(sims.max(axis=1).min())


def test_nn_parafac_recovers_rank2():
    tensor, (sample, time, mass) = _synthetic_rank2()
    factors, rsq, iters = nn_parafac(tensor, rank=2, seed=123, max_iter=3000)
    assert rsq > 0.999
    assert iters > 1
    assert [f.shape for f in factors] == [(10, 2), (20, 2), (5, 2)]
    assert all((f >= 0).all() for f in factors)
    assert _best_cosine_match(factors[2], mass) > 0.99
    assert _best_cosine_match(factors[1], time) > 0.99


def test_nn_parafac_deterministic_for_seed():
    tensor, _ = _synthetic_rank2()
    f1, r1, i1 = nn_parafac(tensor, rank=2, seed=123, max_iter=200)
    f2, r2, i2 = nn_parafac(tensor, rank=2, seed=123, max_iter=200)
    assert r1 == r2 and i1 == i2
    for a, b in zip(f1, f2):
        np.testing.assert_array_equal(a, b)


def test_impute_chromatogram():
    col = np.array([1.0, np.nan, 3.0, 4.0, np.nan])
    out = impute_chromatogram(col)
    # originals untouched, NaNs filled non-negative
    assert out[0] == 1.0 and out[2] == 3.0 and out[3] == 4.0
    assert not np.isnan(out).any() and (out >= 0).all()
    # interior NaN between 1 and 3 lands between its neighbors
    assert 1.0 < out[1] < 3.0
    # all-NaN column -> zeros
    assert (impute_chromatogram(np.array([np.nan, np.nan])) == 0).all()


def test_impute_tensor_matches_columnwise_reference():
    """Vectorized impute_tensor == impute_chromatogram mapped over every
    (sample, m/z) column (the pre-vectorization definition)."""
    rng = np.random.default_rng(7)
    tensor = rng.random((3, 17, 4)) * 10.0
    tensor[rng.random(tensor.shape) < 0.3] = np.nan
    tensor[1, :, 2] = np.nan  # one fully-missing chromatogram
    tensor[0, :, 0] = rng.random(17)  # one fully-present chromatogram
    from candia_spark.operators.kernels import impute_tensor

    got = impute_tensor(tensor.copy())
    want = tensor.astype(np.float64).copy()
    for s in range(want.shape[0]):
        for m in range(want.shape[2]):
            want[s, :, m] = impute_chromatogram(want[s, :, m])
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)
    # short series exercise the odd-length kernel clamp
    short = np.full((2, 3, 2), np.nan)
    short[0, 0, 0] = 1.0
    got_s = impute_tensor(short.copy())
    want_s = short.astype(np.float64).copy()
    for s in range(2):
        for m in range(2):
            want_s[s, :, m] = impute_chromatogram(want_s[s, :, m])
    np.testing.assert_allclose(got_s, want_s, rtol=0, atol=1e-12)


def test_count_peaks():
    t = np.arange(30, dtype=float)
    one = np.exp(-0.5 * ((t - 15) / 2.0) ** 2)
    two = np.exp(-0.5 * ((t - 8) / 2.0) ** 2) + np.exp(-0.5 * ((t - 22) / 2.0) ** 2)
    assert count_peaks(one) == 1
    assert count_peaks(two) == 2
    assert count_peaks(np.zeros(30)) == 0
    assert count_peaks(np.full(30, 5.0)) == 0  # flat: no strict maxima


def test_decompose_slices_end_to_end(spark):
    tensor, _ = _synthetic_rank2()
    rows = []
    for slice_id in (0, 1):
        s, t, m = np.indices(tensor.shape)
        for si, ti, mi, v in zip(s.ravel(), t.ravel(), m.ravel(), tensor.ravel()):
            rows.append(
                Row(
                    slice_id=slice_id,
                    sample_no=int(si),
                    cycle=int(ti),
                    mz_idx=int(mi),
                    intensity=float(v),
                )
            )
    df = spark.createDataFrame(rows)
    out = decompose_slices(
        df, ["slice_id"], ncomp_range=[2], max_iter=500
    ).cache()
    pdf = out.toPandas()
    assert set(pdf["slice_id"]) == {0, 1}
    for sid in (0, 1):
        sub = pdf[pdf["slice_id"] == sid]
        assert sub["rsq"].iloc[0] > 0.99
        assert set(sub["mode"]) == {0, 1, 2}
        # shape check: mode 0 has 10 rows x 2 comps
        assert len(sub[(sub["mode"] == 0)]) == 20
    # identical slices + fixed seed -> identical factors
    s0 = pdf[pdf.slice_id == 0].sort_values(["mode", "row_idx", "comp"])["value"]
    s1 = pdf[pdf.slice_id == 1].sort_values(["mode", "row_idx", "comp"])["value"]
    np.testing.assert_array_equal(s0.to_numpy(), s1.to_numpy())

    # trivial-tensor guard: a 1-sample slice emits nothing
    tiny = spark.createDataFrame(
        [Row(slice_id=9, sample_no=0, cycle=c, mz_idx=m, intensity=1.0)
         for c in range(5) for m in range(5)]
    )
    assert decompose_slices(tiny, ["slice_id"], [2]).count() == 0

    # K4: reconstruction from the emitted factors approximates the tensor
    recon = reconstruct_scans(
        out.filter("slice_id = 0"), ["slice_id"]
    ).toPandas()
    assert len(recon) == tensor.size
    est = np.zeros_like(tensor)
    est[recon["sample_no"], recon["cycle"], recon["mz_idx"]] = recon["intensity"]
    rel_err = np.linalg.norm(est - tensor) / np.linalg.norm(tensor)
    assert rel_err < 0.05

    # A11: time-mode components of the rank-2 model are unimodal Gaussians
    peaks = count_time_mode_peaks(out.filter("slice_id = 0"), ["slice_id"]).toPandas()
    assert sorted(peaks["npeaks"].tolist()) == [1, 1]


def test_decompose_parallel_unit_is_slice_times_rank(spark):
    """The grouped map keys on (slice, __ncomp): a rank sweep multiplies
    tasks, not task length (reference scheduling unit, one Snakemake job
    per slice x rank — decompose_parafac.Snakefile:15-36)."""
    tensor, _ = _synthetic_rank2()
    s, t, m = np.indices(tensor.shape)
    rows = [
        Row(slice_id=0, sample_no=int(si), cycle=int(ti), mz_idx=int(mi),
            intensity=float(v))
        for si, ti, mi, v in zip(s.ravel(), t.ravel(), m.ravel(), tensor.ravel())
    ]
    df = spark.createDataFrame(rows)
    out = decompose_slices(df, ["slice_id"], ncomp_range=[1, 2], max_iter=300)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__ncomp" in plan  # rank is part of the grouping key
    pdf = out.toPandas()
    assert set(pdf["ncomp"]) == {1, 2}
    # per-rank results identical to a single-rank run (same tensor, same seed)
    solo = decompose_slices(
        df, ["slice_id"], ncomp_range=[2], max_iter=300
    ).toPandas()
    both = pdf[pdf.ncomp == 2].sort_values(["mode", "row_idx", "comp"])
    solo = solo.sort_values(["mode", "row_idx", "comp"])
    np.testing.assert_array_equal(
        both["value"].to_numpy(), solo["value"].to_numpy()
    )


def test_decompose_fleet_runs_one_task_per_core(spark):
    """A few-KB fleet shuffle is not coalesced to one task: the (slice,
    rank) groups are spread over defaultParallelism tasks by one
    fixed-count repartition, which the grouped map reuses."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    rows = [
        Row(slice_id=k, sample_no=s, cycle=t, mz_idx=m, intensity=float(1 + s + t * m))
        for k in range(n) for s in range(2) for t in range(3) for m in range(3)
    ]
    out = decompose_slices(
        spark.createDataFrame(rows), ["slice_id"], ncomp_range=[1, 2], max_iter=5
    )
    group = "fleet_tasks"
    sc.setJobGroup(group, group)
    try:
        assert len(out.collect()) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(group))
    result_stage = max(tracker.getJobInfo(last_job).stageIds)
    assert tracker.getStageInfo(result_stage).numTasks == n

    final = out._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    exchanges = [line for line in final.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1, final
    assert "hashpartitioning(slice_id#" in exchanges[0]
    assert f", {n}), REPARTITION_BY_NUM" in exchanges[0]


@pytest.mark.parametrize("rank", [1, 3])
def test_nn_parafac_other_ranks(rank):
    tensor, _ = _synthetic_rank2()
    factors, rsq, _ = nn_parafac(tensor, rank=rank, seed=123, max_iter=1000)
    assert all(f.shape[1] == rank for f in factors)
    if rank >= 2:
        assert rsq > 0.99  # overcomplete still fits
    else:
        assert 0.3 < rsq < 0.999  # rank-1 underfits a rank-2 tensor


def test_rms_scale_roundtrip():
    """K3 (dormant in the reference): scaling then unscaling the mass mode
    restores slab magnitudes; default decompose path never applies it."""
    from candia_spark.operators.kernels import rms_scale_tensor, unscale_mass_mode

    rng = np.random.default_rng(3)
    t = rng.random((2, 4, 3)) * np.array([1.0, 10.0, 100.0])
    scaled, w = rms_scale_tensor(t.copy())
    # each slab now has unit RMS
    assert np.allclose(np.sqrt(np.mean(np.square(scaled), axis=(0, 1))), 1.0)
    mass = rng.random((3, 2))
    restored = unscale_mass_mode(mass / w[:, None], w)
    assert np.allclose(restored, mass)
    boosted = unscale_mass_mode(mass, np.ones(3), ms1_indices=[1])
    assert np.allclose(boosted[1], mass[1] * 1000.0)
    assert np.allclose(boosted[0], mass[0])


def _torch_available() -> bool:
    try:
        import torch  # noqa: F401

        return True
    except ImportError:
        return False


def test_nn_parafac_backend_validation_and_gate():
    """Verdict r8 next #5: the torch backend is a flagged knob — an
    unknown backend is a ValueError, and torch-absent environments get
    an ImportError naming the knob at CALL time (module import stays
    torch-free, the environment-contract import-try doctrine)."""
    tensor, _ = _synthetic_rank2()
    with pytest.raises(ValueError, match="backend"):
        nn_parafac(tensor, rank=2, backend="tensorflow")
    if not _torch_available():
        with pytest.raises(ImportError, match="backend='numpy'"):
            nn_parafac(tensor, rank=2, backend="torch")
    # advice r9 #5: max_iter=0 made the backends DISAGREE (numpy
    # NameError vs torch silently returning rsq=1.0) — now refused
    # before dispatch, for either backend
    for backend in ("numpy", "torch"):
        with pytest.raises(ValueError, match="max_iter"):
            nn_parafac(tensor, rank=2, max_iter=0, backend=backend)


@pytest.mark.skipif(not _torch_available(), reason="torch not installed")
def test_nn_parafac_torch_parity():
    """The reference's GPU option (decompose_parafac.py:36-47,114-126)
    as a backend toggle: torch and numpy start from the SAME seeded
    factors and run the same update loop, so mode loadings agree at the
    reference's own tolerance bar — atol 1e-2 on thresholded loadings
    (decompose_parafac.py:560-563) — and the iteration count matches.
    Certified with torch-CPU; device='cuda:N' is the production knob."""
    tensor, _ = _synthetic_rank2()
    fn, rn, itn = nn_parafac(tensor, rank=2, seed=123, max_iter=500)
    ft, rt, itt = nn_parafac(
        tensor, rank=2, seed=123, max_iter=500, backend="torch"
    )
    assert [f.shape for f in ft] == [f.shape for f in fn]
    assert all((f >= 0).all() for f in ft)
    assert abs(rt - rn) < 1e-6
    assert itt == itn
    for a, b in zip(fn, ft):
        a = a.copy()
        b = b.copy()
        a[a <= 1e-5] = 0
        b[b <= 1e-5] = 0
        assert np.allclose(a, b, atol=1e-2)
