"""Regenerate the committed MS-pipeline stage goldens: the stage-3 slice
store and the stage-5 decomposition factors, for one of two inputs.

- ``reference`` (tests/goldens/pipeline/): the reference's own toy
  experiment, with the same parameters the e2e test fixture uses
  (tests/test_pipeline.py). Needs the reference checkout.
- ``synthetic`` (tests/goldens/pipeline_synthetic/): a small seeded DIA
  input written by perfbench/gen_mzml.py (tests/test_pipeline_synthetic.py).

    python scripts/regen_pipeline_goldens.py reference|synthetic

Run ONLY after confirming a movement is a legitimate refresh (fixture
change, numpy lineage change), not a pipeline regression — the comparison
tests' failure messages say how to tell.
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN_DIRS = {
    "reference": os.path.join(REPO, "tests", "goldens", "pipeline"),
    "synthetic": os.path.join(REPO, "tests", "goldens", "pipeline_synthetic"),
}
MZML = [
    "/root/reference/test/test_experiment/samples/scans_mzml/scan1.mzML",
    "/root/reference/test/test_experiment/samples/scans_mzml/scan2.mzML",
]
CFG_YAML = "/root/reference/test/test_experiment/config/candia.yaml"

# The synthetic input: 3 samples x 2 isolation windows x 2 retention-time
# windows = 4 slices, 3 planted analytes each, fitted at ranks around 3.
SYNTHETIC_SEED = 3
SYNTHETIC_SHAPE = {"samples": 3, "n_windows": 2, "rt_span": 120.0}
SYNTHETIC_NCOMP = [2, 3, 4]
SYNTHETIC_MAX_ITER = 50

FACTOR_KEYS = ["swath_lower_adjusted", "rt_window", "ncomp", "mode", "comp", "row_idx"]


def gen_mzml():
    """perfbench's seeded DIA mzML generator, imported from its file."""
    path = os.path.join(REPO, "perfbench", "gen_mzml.py")
    spec = importlib.util.spec_from_file_location("gen_mzml", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def run_synthetic(spark, work: str) -> dict:
    """Write the synthetic mzML under ``work`` and run stages 1-9 on it."""
    from candia_spark.pipeline import CandiaConfig, run_pipeline

    paths, _ = gen_mzml().generate(
        os.path.join(work, "mzml"), SYNTHETIC_SEED, **SYNTHETIC_SHAPE
    )
    return run_pipeline(
        spark,
        paths,
        CandiaConfig(),
        ncomp_range=SYNTHETIC_NCOMP,
        max_iter=SYNTHETIC_MAX_ITER,
        slice_store_path=os.path.join(work, "slices"),
    )


def run_reference(spark, work: str) -> dict:
    from candia_spark.pipeline import CandiaConfig, run_pipeline

    return run_pipeline(
        spark,
        MZML,
        CandiaConfig.from_yaml(CFG_YAML),
        ncomp_range=[2, 3],
        max_iter=50,
        slice_store_path=os.path.join(work, "slices"),
    )


def main() -> int:
    import tempfile

    from candia_spark.session import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "reference"
    if which not in GOLDEN_DIRS:
        raise SystemExit(f"usage: {sys.argv[0]} reference|synthetic")
    golden_dir = GOLDEN_DIRS[which]
    run = run_synthetic if which == "synthetic" else run_reference
    spark = get_spark(app_name="regen_pipeline_goldens", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as d:
        out = run(spark, d)
        os.makedirs(golden_dir, exist_ok=True)
        sliced = out["sliced"].toPandas()
        sliced = sliced.sort_values(list(sliced.columns)).reset_index(drop=True)
        sliced.to_parquet(os.path.join(golden_dir, "sliced.parquet"), index=False)
        factors = out["factors"].toPandas()
        factors = factors.sort_values(FACTOR_KEYS).reset_index(drop=True)
        factors.to_parquet(
            os.path.join(golden_dir, "factors.parquet"), index=False
        )
        print(f"sliced: {len(sliced)} rows; factors: {len(factors)} rows")
        print(f"written to {golden_dir}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
