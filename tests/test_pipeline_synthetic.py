"""CANDIA stages 1-9 on a small seeded synthetic DIA input
(perfbench/gen_mzml.py: 3 samples, 4 slices, 3 planted analytes per
slice), checked against committed goldens, and the structure of the one
decomposition fleet ``run_pipeline`` runs. Unlike tests/test_pipeline.py
this needs no reference checkout, so stages 1-5 are certified in the fast
tier. Refresh the goldens (only for a legitimate change):
``python scripts/regen_pipeline_goldens.py synthetic``."""

from __future__ import annotations

import importlib.util
import os

import pandas as pd
import pytest

from candia_spark import telemetry
from candia_spark.pipeline import (
    CandiaConfig,
    decompose,
    select_best_models,
    time_mode_peaks,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLICE = ["swath_lower_adjusted", "rt_window"]
GROUP = "synthetic_pipeline"


def _regen():
    path = os.path.join(REPO, "scripts", "regen_pipeline_goldens.py")
    spec = importlib.util.spec_from_file_location("regen_pipeline_goldens", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


REGEN = _regen()
GOLDEN_DIR = REGEN.GOLDEN_DIRS["synthetic"]


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, GROUP)
    try:
        out = REGEN.run_synthetic(spark, str(tmp_path_factory.mktemp("synthetic")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out["_telemetry"] = telemetry.pop(GROUP)
    return out


def _sorted(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return pdf.sort_values(keys).reset_index(drop=True)


def test_synthetic_slice_store_matches_golden(result):
    """Stage 3 is parse + windowing, no float accumulation: exact."""
    golden = pd.read_parquet(os.path.join(GOLDEN_DIR, "sliced.parquet"))
    got = result["sliced"].toPandas()[list(golden.columns)]
    pd.testing.assert_frame_equal(
        _sorted(got, list(golden.columns)), golden, check_exact=True
    )


def test_synthetic_factors_match_golden(result):
    """Stage 5 within the reference's certification tolerance (atol 1e-2,
    decompose_parafac.py:560-563); iteration counts exact."""
    keys = REGEN.FACTOR_KEYS
    golden = pd.read_parquet(os.path.join(GOLDEN_DIR, "factors.parquet"))
    got = _sorted(result["factors"].toPandas(), keys)
    assert len(got) == len(golden), "factor row universe changed"
    merged = got.merge(golden, on=keys, suffixes=("", "_g"), how="inner")
    assert len(merged) == len(golden), "factor keys changed"
    assert (merged["iterations"] == merged["iterations_g"]).all()
    assert (merged["value"] - merged["value_g"]).abs().max() <= 1e-2
    assert (merged["rsq"] - merged["rsq_g"]).abs().max() <= 1e-2


def test_synthetic_best_models_match_golden(spark, result):
    """Stages 7-8 over the run's cut factors select the same models as
    over the golden factors."""
    keys = SLICE + ["ncomp"]
    golden = spark.createDataFrame(
        pd.read_parquet(os.path.join(GOLDEN_DIR, "factors.parquet"))
    )
    want = select_best_models(time_mode_peaks(golden, CandiaConfig())).toPandas()
    got = result["best_models"].toPandas()
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        _sorted(got[list(want.columns)], keys), _sorted(want, keys)
    )


def _has_fleet(df) -> bool:
    """True when the optimized plan holds the PARAFAC grouped map."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return any(
        "FlatMapGroupsInPandas" in line and "decompose(" in line
        for line in plan.splitlines()
    )


def test_stages_after_the_cut_do_not_rerun_the_fleet(result):
    """Stages 6-9 read the cut factors: no plan above the cut holds the
    decomposition grouped map, which the lazy fleet's plan does."""
    assert _has_fleet(
        decompose(result["tensor_long"], CandiaConfig(), REGEN.SYNTHETIC_NCOMP, 5)
    )
    for name in ("factors", "peaks", "best_models", "sample_modes"):
        assert not _has_fleet(result[name]), name


def test_fleet_cut_is_recorded_under_the_job_group(spark, result):
    fleet = result["_telemetry"]["fleet"]
    golden = pd.read_parquet(os.path.join(GOLDEN_DIR, "factors.parquet"))
    assert fleet["rows"] == len(golden) == result["factors"].count()
    assert fleet["partitions"] == spark.sparkContext.defaultParallelism
