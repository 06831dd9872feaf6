"""Output checks for the benchmark's workloads.

Seat checks compare the Spark result with the seat's DuckDB oracle through
``candia_spark.plans.compare``. Pipeline checks test invariants of the CANDIA
pipeline's outputs that hold for any input; each returns a list of failure
messages, empty when the output is correct.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLICE = ["swath_lower_adjusted", "rt_window"]


def check_seat(spark, sf_dir: str, name: str) -> str | None:
    """None when the seat matches its oracle, else a one-line reason."""
    from candia_spark.plans.compare import compare_query

    res = compare_query(spark, sf_dir, name)
    if res["match"]:
        return None
    detail = {k: v for k, v in res.items() if k not in ("name", "match")}
    return f"{name}: {res.get('status')} {detail}"[:300]


def _keys(df: DataFrame, cols: list[str]) -> set[tuple]:
    return {tuple(r) for r in df.select(*cols).distinct().collect()}


def check_pipeline(out: dict[str, DataFrame], ncomp_range: list[int],
                   min_dims: tuple[int, int, int], mzxml_path: str | None) -> list[str]:
    """Invariants of one ``run_pipeline`` result and, when ``mzxml_path`` is
    set, of its mzXML export.

    The tensor and factor tables are cached while the checks run, so parsing
    and the decomposition fleet execute once for all of them instead of once
    per check.
    """
    tensor = out["tensor_long"].persist()
    factors = out["factors"].persist()
    try:
        return _pipeline_failures(out, factors, ncomp_range, min_dims, mzxml_path)
    finally:
        factors.unpersist()
        tensor.unpersist()


def _pipeline_failures(out, factors, ncomp_range, min_dims, mzxml_path) -> list[str]:
    failures: list[str] = []
    dims = (
        out["tensor_long"].groupBy(*SLICE)
        .agg(
            F.countDistinct("sample_no").alias("s"),
            F.countDistinct("cycle").alias("t"),
            F.countDistinct("mz_idx").alias("m"),
        )
        .collect()
    )
    guarded = {
        (r[SLICE[0]], r[SLICE[1]])
        for r in dims
        if r["s"] >= min_dims[0] and r["t"] >= min_dims[1] and r["m"] >= min_dims[2]
    }
    fitted = _keys(factors, SLICE + ["ncomp"])
    missing = {(a, b, k) for a, b in guarded for k in ncomp_range} - fitted
    if missing:
        failures.append(f"{len(missing)} (slice, rank) fits missing of "
                        f"{len(guarded) * len(ncomp_range)}")
    bad_rsq = factors.filter(~F.col("rsq").between(0.0, 1.0)).count()
    if bad_rsq:
        failures.append(f"{bad_rsq} factor rows with rsq outside [0, 1]")
    best = out["best_models"].select(*SLICE, "ncomp").collect()
    best_keys = {tuple(r) for r in best}
    fitted_slices = {(a, b) for a, b, _ in fitted}
    no_best = fitted_slices - {(a, b) for a, b, _ in best_keys}
    if no_best:
        failures.append(f"{len(no_best)} slices without a best model")
    stray = _keys(out["sample_modes"], SLICE + ["ncomp"]) - best_keys
    if stray:
        failures.append(f"{len(stray)} sample-mode models are not best models")
    if mzxml_path is None:
        return failures
    expected = sum(k for _, _, k in best_keys)
    scans = mzxml_scan_count(mzxml_path)
    if scans != expected:
        failures.append(f"mzXML exported {scans} scans, best models have "
                        f"{expected} components")
    return failures


def mzxml_scan_count(path: str) -> int:
    with open(path, encoding="ISO-8859-1") as f:
        head = f.read(4096)
    m = re.search(r'scanCount="(\d+)"', head)
    if m is None:
        raise ValueError(f"{path}: no scanCount in the msRun header")
    return int(m.group(1))
