"""End-to-end CANDIA pipeline on the reference's own toy experiment
(2 mzML DIA scans, 114 spectra each) — stages 1 through 10 under one
SparkSession, structural + invariant assertions per stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from candia_spark.pipeline import (
    CandiaConfig,
    run_pipeline,
)

MZML = [
    "/root/reference/test/test_experiment/samples/scans_mzml/scan1.mzML",
    "/root/reference/test/test_experiment/samples/scans_mzml/scan2.mzML",
]
CFG_YAML = "/root/reference/test/test_experiment/config/candia.yaml"


@pytest.fixture(scope="module")
def cfg():
    c = CandiaConfig.from_yaml(CFG_YAML)
    # reference test config values (candia.yaml:12-14)
    assert c.min_scan_intensity == 1
    assert c.window_size_sec == 60
    assert c.mass_tol_ppm == 40
    return c


@pytest.fixture(scope="module")
def result(spark, cfg, tmp_path_factory):
    d = tmp_path_factory.mktemp("pipe")
    out = run_pipeline(
        spark,
        MZML,
        cfg,
        ncomp_range=[2, 3],  # toy-scale rank range; full range is 10-14
        max_iter=50,
        slice_store_path=str(d / "slices"),
        mzxml_out=str(d / "best.mzXML"),
    )
    out["_dir"] = str(d)
    return out


def test_scan_map_and_adjustment(result):
    adjusted = result["adjusted"].cache()
    n = adjusted.count()
    assert n > 10_000  # 14,362 windowed points from the 2 toy scans
    # both samples present; adjusted windows are contiguous (upper_k ==
    # lower_{k+1}) after W1
    assert adjusted.select("sample").distinct().count() == 2
    wins = (
        adjusted.select("swath_lower_adjusted", "swath_upper_adjusted")
        .distinct()
        .orderBy("swath_lower_adjusted")
        .collect()
    )
    assert len(wins) == 2
    assert wins[0]["swath_upper_adjusted"] == wins[1]["swath_lower_adjusted"]


def test_slice_store_partitioning(result):
    import os

    root = result["_dir"] + "/slices"
    top = [p for p in os.listdir(root) if p.startswith("swath_lower_adjusted=")]
    assert len(top) == 2
    sub = os.listdir(os.path.join(root, top[0]))
    assert any(s.startswith("rt_window=") for s in sub)


def test_tensor_long_shape(result):
    t = result["tensor_long"].cache()
    assert t.count() > 100
    # tensor cells are keyed by (slice, sample_no, cycle, mz_idx) — unique
    dup = (
        t.groupBy(
            "swath_lower_adjusted", "rt_window", "sample_no", "cycle", "mz_idx"
        )
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    assert t.filter(F.col("intensity") < 0).count() == 0


def test_factors_and_selection(result):
    factors = result["factors"].cache()
    assert factors.count() > 0
    assert {r["mode"] for r in factors.select("mode").distinct().collect()} == {0, 1, 2}
    # fit quality recorded per (slice, ncomp)
    rsq = factors.select("rsq").distinct().collect()
    assert all(r["rsq"] <= 1.0 for r in rsq)
    best = result["best_models"].collect()
    assert len(best) >= 1
    assert all(0.0 <= r["unimodal_fraction"] <= 1.0 for r in best)


def test_model_and_spectrum_index(result):
    mi = result["model_index"].cache()
    n_models = mi.count()
    assert n_models > 0
    ids = sorted(r["model_id"] for r in mi.collect())
    assert ids == list(range(n_models))  # dense deterministic ids
    si = result["spectrum_index"]
    per_model = {
        r["model_id"]: r["n"]
        for r in si.groupBy("model_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in mi.collect():
        assert per_model[r["model_id"]] == r["ncomp"]


def test_sample_modes_cv(result):
    sm = result["sample_modes"].cache()
    assert sm.count() > 0
    assert sm.filter(F.col("cv_across_samples") < 0).count() == 0
    # abundance rows only for best models
    best_keys = {
        (r["swath_lower_adjusted"], r["rt_window"], r["ncomp"])
        for r in result["best_models"].collect()
    }
    got_keys = {
        (r["swath_lower_adjusted"], r["rt_window"], r["ncomp"])
        for r in sm.select("swath_lower_adjusted", "rt_window", "ncomp")
        .distinct()
        .collect()
    }
    assert got_keys <= best_keys


def test_mzxml_export(result):
    import re

    raw = open(result["_dir"] + "/best.mzXML", "rb").read()
    m = re.search(rb'<msRun scanCount="(\d+)">', raw)
    assert m and int(m.group(1)) > 0
    # offset index resolves
    for _num, off in re.findall(rb'<offset id = "(\d+)">(\d+)</offset>', raw):
        assert raw[int(off) : int(off) + 5] == b"<scan"


GOLDEN_DIR = __file__.rsplit("/", 1)[0] + "/goldens/pipeline"


def test_stage3_slice_store_matches_golden(result):
    """Stage-level golden (verdict r4 #5): the stage-3 slice store must
    match the committed fixture EXACTLY — it is pure parse + windowing
    (no float accumulation), so any drift is a relational regression in
    stages 1-3, not numeric noise. Refresh (only for a legitimate fixture
    change): scripts/regen_pipeline_goldens.py."""
    import pandas as pd

    golden = pd.read_parquet(GOLDEN_DIR + "/sliced.parquet")
    got = result["sliced"].toPandas()[list(golden.columns)]
    got = got.sort_values(list(golden.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, golden, check_exact=True)


def test_stage5_decomposition_matches_golden(result):
    """Stage-5 golden: factor values and fit quality within the
    reference's own certification tolerance (atol 1e-2,
    decompose_parafac.py:560-563); iteration counts exact. Refresh:
    scripts/regen_pipeline_goldens.py (the q23 golden pytest's numpy
    caveat applies here too)."""
    import pandas as pd

    keys = ["swath_lower_adjusted", "rt_window", "ncomp", "mode", "comp", "row_idx"]
    golden = pd.read_parquet(GOLDEN_DIR + "/factors.parquet")
    got = (
        result["factors"]
        .toPandas()
        .sort_values(keys)
        .reset_index(drop=True)
    )
    assert len(got) == len(golden), "factor row universe changed"
    merged = got.merge(golden, on=keys, suffixes=("", "_g"), how="inner")
    assert len(merged) == len(golden), "factor keys changed"
    assert (merged["value"] - merged["value_g"]).abs().max() <= 1e-2
    assert (merged["rsq"] - merged["rsq_g"]).abs().max() <= 1e-2
    assert (merged["iterations"] == merged["iterations_g"]).all()


def test_identify_results_seam(spark, tmp_path):
    """Identification seam (id_models_concat.py:85-90): toy novor +
    percolator reports -> one concatenated id table with model resolution
    and tolerance-matched isolation window centers."""
    from candia_spark.pipeline import identify_results
    from candia_spark.sources.adapters import read_report

    novor_csv = tmp_path / "novor.csv"
    novor_csv.write_text(
        "# novor output\n"
        "1,3,12.5,450.1,2,900.2,0.1,1.2,77.5,PEPTIDEK,50-60\n"
        "2,4,13.5,451.1,2,902.2,0.2,1.3,88.5,AAKCCR,60-70\n"
    )
    perc_tsv = tmp_path / "perc.tsv"
    perc_tsv.write_text(
        "PSMId\tscan\tscore\tpercolator q-value\tsequence\n"
        "psm_1\t3\t1.25\t0.01\tK.PEPTIDEK.A\n"
        "psm_2\t5\t0.75\t0.20\tK.AACCK.A\n"
    )
    reports = {
        "novor": read_report(spark, str(novor_csv), "novor"),
        "percolator": read_report(spark, str(perc_tsv), "percolator_psms"),
    }
    spectrum_index = spark.createDataFrame(
        [
            {"swath_lower_adjusted": 400.0, "rt_window": 0, "ncomp": 2,
             "model_id": 0, "spectrum_num": s, "scan": s + 3}
            for s in range(3)
        ]
    )
    windows = spark.createDataFrame(
        [{"swath_lower_adjusted": 400.0, "swath_upper_adjusted": 425.0}]
    )
    out = identify_results(reports, spectrum_index, windows).collect()
    # scans 3 and 4 resolve for novor, 3 and 5 for percolator
    got = {(r.tool, r.scan) for r in out}
    assert got == {("novor", 3), ("novor", 4), ("percolator", 3), ("percolator", 5)}
    by_key = {(r.tool, r.scan): r for r in out}
    assert by_key[("novor", 3)].sequence == "PEPTIDEK"
    assert by_key[("percolator", 3)].qvalue == 0.01
    assert by_key[("novor", 3)].score == 77.5
    # window center tolerance-joined from the adjusted windows
    assert all(r.isolation_window_center == 412.5 for r in out)
    assert all(r.model_id == 0 for r in out)


def test_export_applies_ms2_background_filter(spark, tmp_path):
    """Stage 10 parity (msproc.py:270-274): every component's MS2 points
    pass the per-component histogram cutoff before serialization — at the
    default bin 0 the exact-minimum MS2 intensities drop, MS1 points are
    kept (and feed the pseudo-precursor)."""
    import base64
    import re

    import numpy as np

    from candia_spark.pipeline import export_best_models_mzxml

    slice_key = {"swath_lower_adjusted": 400.0, "rt_window": 0}
    # one component; mz_idx 0 is an MS1 point, 1-4 are MS2 with two rows
    # at the exact minimum intensity (10.0) that the filter must drop
    intensities = {0: 5.0, 1: 10.0, 2: 10.0, 3: 50.0, 4: 100.0}
    factors = spark.createDataFrame(
        [
            {**slice_key, "ncomp": 1, "mode": 2, "comp": 0, "row_idx": i, "value": v}
            for i, v in intensities.items()
        ]
    )
    best = spark.createDataFrame([{**slice_key, "ncomp": 1}])
    mz_dim = spark.createDataFrame(
        [
            {**slice_key, "level": 1 if i == 0 else 2,
             "mz_partition_start": 99.0 + i, "mz_idx": i}
            for i in intensities
        ]
    )
    spectrum_index = spark.createDataFrame(
        [{**slice_key, "ncomp": 1, "model_id": 0, "spectrum_num": 0, "scan": 1}]
    )
    path = str(tmp_path / "filtered.mzXML")
    n = export_best_models_mzxml(factors, best, mz_dim, spectrum_index, path)
    assert n == 1
    raw = open(path).read()
    peaks_b64 = re.search(r"contentType=\"m/z-int\">([^<]+)</peaks>", raw).group(1)
    pairs = np.frombuffer(base64.standard_b64decode(peaks_b64), dtype=">f4")
    got_mz = sorted(float(x) for x in pairs[0::2])
    # MS2 mz 100.0 and 101.0 (intensity == group min) are filtered out
    assert got_mz == [102.0, 103.0]
    # the MS1 point survived the filter and became the pseudo-precursor
    assert re.search(r"<precursorMz [^>]*>99\.0</precursorMz>", raw)


def test_tensor_ids_number_within_each_slice(spark):
    """mz_idx and sample_no are positions within their slice: a factor's
    row_idx is a position in its slice's tensor, and the export joins
    mz_idx to it. Two slices whose m/z partitions interleave globally."""
    from candia_spark.pipeline import tensorize_slices

    rows = [
        (swath, 0, sample, t, level, mz0 + off, 10.0)
        for swath, mz0 in ((400.0, 100.0), (425.0, 110.0))
        for sample in ("a", "b")
        for t in (1.0, 2.0, 3.0)
        for level, off in ((1, 0.0), (2, 100.0), (2, 200.0))
    ]
    sliced = spark.createDataFrame(
        rows,
        "swath_lower_adjusted double, rt_window long, sample string, "
        "rt double, level int, mz double, intensity double",
    )
    tensor, mz_dim = tensorize_slices(sliced, mass_tol_ppm=10.0, min_tensor_points=1)

    dims: dict = {}
    for r in mz_dim.collect():
        dims.setdefault(r["swath_lower_adjusted"], []).append(
            (r["level"], r["mz_partition_start"], r["mz_idx"])
        )
    assert sorted(dims) == [400.0, 425.0]
    for d in dims.values():
        assert [i for _, _, i in sorted(d)] == [0, 1, 2]

    samples = {
        r["swath_lower_adjusted"]: sorted(r["s"])
        for r in tensor.groupBy("swath_lower_adjusted")
        .agg(F.collect_set("sample_no").alias("s"))
        .collect()
    }
    assert samples == {400.0: [0, 1], 425.0: [0, 1]}
