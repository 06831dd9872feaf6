"""Sources layer: mzML ingestion against the reference's own test scans
(read-only inputs), mzXML sink roundtrip, MGF/FASTA adapters."""

from __future__ import annotations

import base64
import importlib.util
import os
import re
import struct

import numpy as np
import pytest

from candia_spark.sources.adapters import (
    expand_charges,
    strip_modifications,
    write_fasta,
    write_mgf,
)
from candia_spark.sources.mzml import (
    _windows_for_file,
    detect_time_unit,
    extract_swath_windows,
    iter_spectra,
    mzml_to_scan_table,
    read_mzml_points,
)
from candia_spark.sources.mzxml import (
    iter_component_scans,
    peaks_base64,
    write_mzxml,
)

MZML1 = "/root/reference/test/test_experiment/samples/scans_mzml/scan1.mzML"
MZML2 = "/root/reference/test/test_experiment/samples/scans_mzml/scan2.mzML"


def test_iter_spectra_structure():
    with open(MZML1, "rb") as f:
        specs = list(iter_spectra(f))
    assert len(specs) == 114
    levels = {s.level for s in specs}
    assert levels == {1, 2}
    s0 = specs[0]
    assert s0.index == 0 and s0.level == 1
    assert s0.rt == pytest.approx(1000.323)
    assert len(s0.mz_array) == 580 and len(s0.intensity_array) == 580
    # MS2 spectra carry full isolation-window info
    s1 = specs[1]
    assert s1.level == 2
    assert s1.target_mz == pytest.approx(631.5)
    assert s1.lower_off == pytest.approx(8.5) and s1.upper_off == pytest.approx(8.5)


def test_detect_time_unit():
    assert detect_time_unit(MZML1) == "second"


def test_swath_windows(spark):
    wins = extract_swath_windows(spark, [MZML1, MZML2]).collect()
    # the toy experiment's scans cover 2 SWATH windows (623-640, 639-656)
    assert len(wins) == 2
    lowers = [w["swath_lower"] for w in wins]
    assert lowers == sorted(lowers)
    w0 = wins[0]
    assert w0["swath_upper"] > w0["swath_lower"]


def test_swath_windows_sorted_on_synthetic_input(spark, tmp_path):
    """Two files: their windows' distinct comes back in hash order, not by
    lower bound (measured: 425, 450, 400 without the sort)."""
    paths = _synthetic_mzmls(tmp_path, 2)
    wins = extract_swath_windows(spark, paths).collect()
    assert {tuple(w) for w in wins} == _windows_for_file(paths[0])
    lowers = [w["swath_lower"] for w in wins]
    assert len(lowers) >= 2 and lowers == sorted(lowers)


def _synthetic_mzml(out_dir) -> str:
    """One sample of perfbench's seeded DIA mzML, 3 isolation windows."""
    return _synthetic_mzmls(out_dir, 1)[0]


def _synthetic_mzmls(out_dir, samples: int) -> list[str]:
    """``samples`` files of perfbench's seeded DIA mzML, 3 windows each."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_mzml", os.path.join(repo, "perfbench", "gen_mzml.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    paths, _ = gen.generate(
        str(out_dir), 5, samples=samples, n_windows=3, rt_span=30.0
    )
    return paths


def test_parse_runs_one_task_per_file_without_exchange(spark, tmp_path):
    """The path frame is built in the JVM: no shuffle below the parse
    ``MapInPandas``, one partition per path, each holding one file's
    points and all of them."""
    from pyspark.sql import functions as F

    from candia_spark.sources.mzml import _points_for_file

    paths = _synthetic_mzmls(tmp_path, 3)
    df = read_mzml_points(spark, paths)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert any("MapInPandas" in ln and "parse(" in ln for ln in plan.splitlines())
    assert "Exchange" not in plan
    assert df.rdd.getNumPartitions() == len(paths)
    per_part = (
        df.groupBy(F.spark_partition_id().alias("part"))
        .agg(F.countDistinct("sample").alias("samples"))
        .collect()
    )
    assert len(per_part) == len(paths) and all(r.samples == 1 for r in per_part)
    assert df.count() == sum(len(list(_points_for_file(p, 0.0))) for p in paths)


def test_per_file_maps_refuse_an_empty_path_list(spark):
    from candia_spark.sources.mzml import spectrum_diagnostics

    for build in (read_mzml_points, extract_swath_windows, spectrum_diagnostics):
        with pytest.raises(ValueError, match="no mzML paths"):
            build(spark, [])


def test_header_window_pass_matches_full_parse(tmp_path):
    path = _synthetic_mzml(tmp_path)
    with open(path, "rb") as f:
        want = {
            (s.target_mz - s.lower_off, s.target_mz + s.upper_off)
            for s in iter_spectra(f)
            if s.level == 2
        }
    assert len(want) == 3
    assert _windows_for_file(path) == want


def test_header_window_pass_decodes_no_binary(tmp_path):
    """Every ``<binary>`` replaced by text that is not base64: the full
    parse fails on it, the window pass reads headers only and still
    yields every window."""
    path = _synthetic_mzml(tmp_path)
    want = _windows_for_file(path)
    with open(path, encoding="utf-8") as f:
        text = f.read()
    bad = tmp_path / "bad.mzML"
    bad.write_text(
        re.sub(r"<binary>[^<]*</binary>", "<binary>not base64!</binary>", text),
        encoding="utf-8",
    )
    with pytest.raises(ValueError), open(bad, "rb") as f:
        list(iter_spectra(f))
    assert _windows_for_file(str(bad)) == want


def test_mzml_scan_table(spark):
    df = mzml_to_scan_table(spark, [MZML1], min_intensity=0.0).cache()
    n = df.count()
    assert n > 10_000
    cols = df.columns
    assert cols == [
        "sample", "spectrum_index", "level", "rt", "mz", "intensity",
        "prec_mz", "prec_isolation_window_start", "prec_isolation_window_end",
    ]
    # every point is inside its assigned window (containment, begin<=x<end)
    from pyspark.sql import functions as F

    bad = df.filter(
        (F.col("prec_mz") < F.col("prec_isolation_window_start"))
        | (F.col("prec_mz") >= F.col("prec_isolation_window_end"))
    ).count()
    assert bad == 0
    # MS1 points use their own m/z as precursor
    ms1_bad = df.filter((F.col("level") == 1) & (F.col("mz") != F.col("prec_mz"))).count()
    assert ms1_bad == 0
    df.unpersist()


def test_min_intensity_filter(spark):
    all_pts = read_mzml_points(spark, [MZML1], min_intensity=0.0)
    filt = read_mzml_points(spark, [MZML1], min_intensity=50.0)
    from pyspark.sql import functions as F

    n2_all = all_pts.filter(F.col("level") == 2).count()
    n2_filt = filt.filter(F.col("level") == 2).count()
    n1_all = all_pts.filter(F.col("level") == 1).count()
    n1_filt = filt.filter(F.col("level") == 1).count()
    assert n2_filt < n2_all  # MS2 filtered
    assert n1_filt == n1_all  # MS1 untouched (msproc.py:156 filters MS2 only)


def _mini_mzml(spectra_xml: str) -> str:
    return (
        '<?xml version="1.0" encoding="utf-8"?>\n'
        '<mzML xmlns="http://psi.hupo.org/ms/mzml">\n'
        f"<run><spectrumList>{spectra_xml}</spectrumList></run>\n"
        "</mzML>\n"
    )


def _spectrum_xml(
    index: int,
    level: int | None = 1,
    rt: float | None = 10.0,
    target: float | None = None,
    with_mz: bool = True,
) -> str:
    mz_b64 = base64.b64encode(
        np.array([100.0, 200.0], dtype="<f8").tobytes()
    ).decode()
    parts = [f'<spectrum index="{index}" defaultArrayLength="2">']
    if level is not None:
        parts.append(
            f'<cvParam accession="MS:1000511" name="ms level" value="{level}"/>'
        )
    parts.append("<scanList><scan>")
    if rt is not None:
        parts.append(
            f'<cvParam accession="MS:1000016" name="scan start time" '
            f'value="{rt}" unitName="second"/>'
        )
    parts.append("</scan></scanList>")
    if target is not None:
        parts.append(
            "<precursorList><precursor><isolationWindow>"
            f'<cvParam accession="MS:1000827" value="{target}"/>'
            '<cvParam accession="MS:1000828" value="2.0"/>'
            '<cvParam accession="MS:1000829" value="2.0"/>'
            "</isolationWindow></precursor></precursorList>"
        )
    if with_mz:
        parts.append(
            "<binaryDataArrayList>"
            '<binaryDataArray><cvParam accession="MS:1000514"/>'
            '<cvParam accession="MS:1000523"/>'
            f"<binary>{mz_b64}</binary></binaryDataArray>"
            '<binaryDataArray><cvParam accession="MS:1000515"/>'
            '<cvParam accession="MS:1000523"/>'
            f"<binary>{mz_b64}</binary></binaryDataArray>"
            "</binaryDataArrayList>"
        )
    parts.append("</spectrum>")
    return "".join(parts)


def test_spectrum_diagnostics_counters(spark, tmp_path):
    """F4 (msproc.py:119-152): malformed spectra are counted per issue —
    missing level counts without skipping, missing rt / m/z array count and
    skip, missing MS2 precursor skips WITHOUT counting (reference quirk,
    tracked in its own column)."""
    from candia_spark.sources.mzml import spectrum_diagnostics

    broken = _mini_mzml(
        _spectrum_xml(0)  # good MS1
        + _spectrum_xml(1, level=2, target=500.0)  # good MS2
        + _spectrum_xml(2, level=None)  # missing level -> counted, kept
        + _spectrum_xml(3, rt=None)  # missing scan time -> counted, skipped
        + _spectrum_xml(4, level=2, target=None)  # missing precursor -> skip only
        + _spectrum_xml(5, with_mz=False)  # missing m/z array -> counted
    )
    p = tmp_path / "broken.mzML"
    p.write_text(broken)
    row = spectrum_diagnostics(spark, [str(p)]).collect()[0]
    assert row.sample == "broken.mzML"
    assert row.n_processed == 6
    assert row.n_missing_level == 1
    assert row.n_missing_rt == 1
    assert row.n_missing_precursor == 1
    assert row.n_missing_mz == 1
    # per-issue problematic counter excludes the uncounted precursor skip
    assert row.n_problematic == 3
    # clean reference file: zero problematic
    clean = spectrum_diagnostics(spark, [MZML1]).collect()[0]
    assert clean.n_processed == 114 and clean.n_problematic == 0


def test_peaks_base64_roundtrip():
    mz = np.array([100.5, 200.25, 300.125])
    inten = np.array([1.0, 2.0, 3.0])
    raw = base64.b64decode(peaks_base64(mz, inten))
    vals = struct.unpack(">6f", raw)
    assert vals == pytest.approx((100.5, 1.0, 200.25, 2.0, 300.125, 3.0))


def test_write_mzxml_roundtrip(tmp_path):
    path = str(tmp_path / "out.mzXML")
    scans = [
        {
            "scan_no": 1,
            "mz": [100.0, 200.0, 300.0],
            "intensity": [5.0, 50.0, 10.0],
            "level": 2,
            "prec_mz": 450.5,
            "prec_intensity": 900.0,
        },
        {
            "scan_no": 2,
            "mz": [150.0, 250.0],
            "intensity": [7.0, 3.0],
            "level": 2,
            "prec_mz": 550.5,
            "prec_intensity": 100.0,
        },
    ]
    n = write_mzxml(path, scans)
    assert n == 2
    text = open(path, encoding="ISO-8859-1").read()
    assert '<msRun scanCount="2">' in text
    assert 'basePeakMz="200.0"' in text and 'totIonCurrent="65.0"' in text
    assert '<precursorMz precursorIntensity="900.0">450.5</precursorMz>' in text
    # the byte-offset index points exactly at each <scan
    raw = open(path, "rb").read()
    for num, off in re.findall(rb'<offset id = "(\d+)">(\d+)</offset>', raw):
        assert raw[int(off) : int(off) + 5] == b"<scan"
    idx_off = int(re.search(rb"<indexOffset>(\d+)</indexOffset>", raw).group(1))
    assert raw[idx_off : idx_off + 6] == b"<index"
    # peak payload decodes back
    b64 = re.search(r"m/z-int\">([A-Za-z0-9+/=]+)</peaks>", text).group(1)
    vals = struct.unpack(">6f", base64.b64decode(b64))
    assert vals == pytest.approx((100.0, 5.0, 200.0, 50.0, 300.0, 10.0))


def test_read_mzxml_full_roundtrip(tmp_path):
    """S10 second half: write_mzxml -> read_mzxml -> write_mgf with
    bit-stable float32 peak values (VERDICT: the sink's output must be
    readable back; parity with msproc.py:423-440 pyteomics round-trip)."""
    from candia_spark.sources.mzxml import convert_mzxml_to_mgf, read_mzxml

    path = str(tmp_path / "rt.mzXML")
    scans = [
        {
            "scan_no": 1,
            "mz": [100.125, 200.0625, 300.5],
            "intensity": [5.5, 50.25, 10.0],
            "level": 2,
            "prec_mz": 450.5,
            "prec_intensity": 900.0,
        },
        {
            "scan_no": 2,
            "mz": [150.0, 250.75],
            "intensity": [7.0, 3.5],
            "level": 2,
            "prec_mz": 550.5,
            "prec_intensity": 100.0,
        },
    ]
    assert write_mzxml(path, scans) == 2
    back = list(read_mzxml(path))
    assert [s["scan_no"] for s in back] == [1, 2]
    for orig, got in zip(scans, back):
        # float32 encode -> decode is bit-stable for these values
        assert list(got["mz"]) == [np.float32(v) for v in orig["mz"]]
        assert list(got["intensity"]) == [np.float32(v) for v in orig["intensity"]]
        assert got["level"] == 2
        assert got["prec_mz"] == orig["prec_mz"]
        assert got["prec_intensity"] == orig["prec_intensity"]
    mgf_path = str(tmp_path / "rt.mgf")
    assert convert_mzxml_to_mgf(path, mgf_path) == 2
    mgf = open(mgf_path).read()
    assert mgf.count("BEGIN IONS") == 2
    assert "TITLE=scan=1" in mgf and "PEPMASS=450.5 900" in mgf
    assert "150 7" in mgf  # peak line '%.10g %.8g'


def test_iter_component_scans_pseudo_precursor():
    rows = [
        # scan 10: has MS1 points -> precursor = argmax-intensity MS1 point
        {"scan_no": 10, "level": 1, "mz": 400.0, "intensity": 10.0, "window_center": 500.0},
        {"scan_no": 10, "level": 1, "mz": 410.0, "intensity": 99.0, "window_center": 500.0},
        {"scan_no": 10, "level": 2, "mz": 101.0, "intensity": 1.0, "window_center": 500.0},
        # scan 11: MS2 only -> window center + jitter in [0, 0.1)
        {"scan_no": 11, "level": 2, "mz": 102.0, "intensity": 2.0, "window_center": 600.0},
    ]
    scans = list(iter_component_scans(iter(rows)))
    assert [s["scan_no"] for s in scans] == [10, 11]
    assert scans[0]["prec_mz"] == 410.0 and scans[0]["prec_intensity"] == 99.0
    assert 600.0 <= scans[1]["prec_mz"] < 600.1
    # MS1 points feed only the precursor, not the peak list
    assert list(scans[0]["mz"]) == [101.0]


def test_mgf_and_charge_expansion(tmp_path):
    base = [
        {
            "scan_no": 5,
            "mz": [100.0, 200.0],
            "intensity": [1.0, 2.0],
            "prec_mz": 450.123456,
            "prec_intensity": 10.0,
        }
    ]
    path = str(tmp_path / "out.mgf")
    n = write_mgf(path, expand_charges(base, charges=(2, 3)))
    assert n == 2
    text = open(path).read()
    assert text.count("BEGIN IONS") == 2
    assert "TITLE=scan=5.2" in text and "TITLE=scan=5.3" in text
    assert "CHARGE=2+" in text and "CHARGE=3+" in text
    assert "SEQ=PEPTIDE" in text and "RTINSECONDS=100.0" in text


def test_fasta_sink(tmp_path):
    path = str(tmp_path / "out.fasta")
    n = write_fasta(path, [("seq1", "ACDEFGHIKLMNPQRSTVWY" * 4), ("seq2", "MKV")], width=60)
    assert n == 2
    lines = open(path).read().splitlines()
    assert lines[0] == ">seq1"
    assert len(lines[1]) == 60 and len(lines[2]) == 20
    assert lines[3] == ">seq2" and lines[4] == "MKV"


def test_strip_modifications(spark):
    df = spark.createDataFrame(
        [("PEPT(+15.99)IDE",), ("SEQmodVAL",)], ["sequence"]
    )
    got = [r["sequence"] for r in strip_modifications(df).collect()]
    assert got == ["PEPTIDE", "SEQVAL"]


def test_temperature_sample_upweights_small_sources(spark):
    """sqrt-temperature mixing: a source's drawn share must sit BETWEEN
    its corpus share and the uniform share (the whole point of
    alpha=0.5), deterministically."""
    from candia_spark.operators.curation import sample_to_temperature

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "small") for i in range(100)
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = sample_to_temperature(d, total=100)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(
            __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
        ).collect()
    }
    # corpus shares: 90% / 10%; sqrt shares: 30/(30+10)=75% / 25%
    assert counts["big"] == 75 and counts["small"] == 25
    # determinism across invocations
    r1 = sorted(r["doc_id"] for r in sample_to_temperature(d, total=100).collect())
    r2 = sorted(r["doc_id"] for r in sample_to_temperature(d, total=100).collect())
    assert r1 == r2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        sample_to_temperature(d, total=0)
    with _pytest.raises(ValueError, match="alpha"):
        sample_to_temperature(d, total=10, alpha_sqrt=False)
