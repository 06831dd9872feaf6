"""mzML scan ingestion (SURVEY.md §2.1 S1-S3) — stdlib-only parser, Spark
fan-out per file.

Reference behavior reproduced (no code copied; the container has neither
pyteomics nor pymzml, so the XML walk is written from the public mzML 1.1
schema):

- one output row per (m/z, intensity) point with spectrum index, MS level,
  rt, precursor m/z, assigned SWATH isolation window
  (``scripts/util/msproc.py:35-42`` header; emission loop 106-185)
- rt unit detection by regex on the raw XML, minutes -> seconds, rounded
  to 4 decimals (``msproc.py:204-210,134-137``)
- rounding: mz -> 10 digits, intensity -> 8 (``msproc.py:31-33,159-160``)
- MS2 points below ``min_intensity`` dropped at ingest (``msproc.py:156``)
- MS1 points: precursor m/z = the point's own m/z (``msproc.py:162-163``)
- SWATH windows = distinct (target - lower_offset, target + upper_offset)
  over MS2 spectra (``msproc.py:524-556``); points whose prec_mz falls in
  no window are discarded; first window by lower bound wins
  (``msproc.py:164-170``)
- malformed-spectrum guards: missing level / scan time / precursor info /
  m/z array -> skip + count (``msproc.py:119-152``)

Scale: one Spark task per mzML file (``mapInPandas`` over a path frame
built in the JVM, one partition per path, with no Python pass or shuffle
ahead of the parse — files live on shared storage; a 100 TB corpus is
many files, so parallelism = file count). Window assignment is NOT done
per-point in Python as the reference does: the parser emits raw points and the tiny
window table joins via the broadcast interval join
(``operators.relational.interval_join``), keeping the hot path JVM-side.
"""

from __future__ import annotations

import base64
import io
import re
import zlib
from collections.abc import Iterator
from xml.etree import ElementTree

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RT_DIGITS = 4
MZ_DIGITS = 10
I_DIGITS = 8

_NS = "{http://psi.hupo.org/ms/mzml}"

POINT_SCHEMA = StructType(
    [
        StructField("sample", StringType()),
        StructField("spectrum_index", LongType()),
        StructField("level", IntegerType()),
        StructField("rt", DoubleType()),
        StructField("mz", DoubleType()),
        StructField("intensity", DoubleType()),
        StructField("prec_mz", DoubleType()),
    ]
)

WINDOW_SCHEMA = StructType(
    [
        StructField("swath_lower", DoubleType()),
        StructField("swath_upper", DoubleType()),
    ]
)


def _decode_binary(b64_text: str, bits: int, compressed: bool) -> np.ndarray:
    raw = base64.b64decode(b64_text)
    if compressed:
        raw = zlib.decompress(raw)
    dtype = np.float64 if bits == 64 else np.float32
    return np.frombuffer(raw, dtype=np.dtype(dtype).newbyteorder("<"))


def _cv(el, accession):
    for cv in el.iter(f"{_NS}cvParam"):
        if cv.get("accession") == accession:
            return cv
    return None


class SpectrumRecord:
    __slots__ = ("index", "level", "rt", "rt_unit", "target_mz", "lower_off",
                 "upper_off", "mz_array", "intensity_array", "problem")

    def __init__(self):
        self.index = None
        self.level = None
        self.rt = None
        self.rt_unit = None
        self.target_mz = None
        self.lower_off = None
        self.upper_off = None
        self.mz_array = None
        self.intensity_array = None
        self.problem = None


def _spectrum_elements(source: io.IOBase | str) -> Iterator[ElementTree.Element]:
    """Each ``<spectrum>`` element of an mzML file/stream, cleared once
    the caller has read it (incremental parse, constant memory in
    spectra count)."""
    for _event, el in ElementTree.iterparse(source, events=("end",)):
        if el.tag == f"{_NS}spectrum":
            yield el
            el.clear()


def _spectrum_header(el: ElementTree.Element) -> SpectrumRecord:
    """A spectrum's index, MS level, scan time and isolation window; its
    binary arrays are left undecoded."""
    rec = SpectrumRecord()
    rec.index = int(el.get("index"))
    lvl = _cv(el, "MS:1000511")
    rec.level = int(lvl.get("value")) if lvl is not None else None

    scan_list = el.find(f"{_NS}scanList")
    scan = scan_list.find(f"{_NS}scan") if scan_list is not None else None
    st = _cv(scan, "MS:1000016") if scan is not None else None
    if st is not None:
        rec.rt = float(st.get("value"))
        rec.rt_unit = st.get("unitName")

    prec_list = el.find(f"{_NS}precursorList")
    if prec_list is not None:
        iso = prec_list.find(f"{_NS}precursor/{_NS}isolationWindow")
        if iso is not None:
            for acc, attr in (
                ("MS:1000827", "target_mz"),
                ("MS:1000828", "lower_off"),
                ("MS:1000829", "upper_off"),
            ):
                cv = _cv(iso, acc)
                if cv is not None:
                    setattr(rec, attr, float(cv.get("value")))
    return rec


def iter_spectra(source: io.IOBase | str) -> Iterator[SpectrumRecord]:
    """Stream SpectrumRecord objects, headers and decoded m/z and
    intensity arrays, from an mzML file/stream."""
    for el in _spectrum_elements(source):
        rec = _spectrum_header(el)
        for bda in el.iter(f"{_NS}binaryDataArray"):
            is_mz = _cv(bda, "MS:1000514") is not None
            is_int = _cv(bda, "MS:1000515") is not None
            if not (is_mz or is_int):
                continue
            bits = 64 if _cv(bda, "MS:1000523") is not None else 32
            compressed = _cv(bda, "MS:1000574") is not None
            binary = bda.find(f"{_NS}binary")
            arr = _decode_binary(binary.text or "", bits, compressed)
            if is_mz:
                rec.mz_array = arr
            else:
                rec.intensity_array = arr
        yield rec


def detect_time_unit(path: str) -> str:
    """Regex over the raw XML for the UO:0000031 (minute) unit, mirroring
    msproc.py:204-210: if any scan-time unit is 'minute', rt *= 60."""
    pat = re.compile(rb'UO:0000031" unitName="(\w+)"')
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            m = pat.search(chunk)
            if m:
                return m.group(1).decode()
    return "second"


def _points_for_file(path: str, min_intensity: float) -> Iterator[tuple]:
    unit = detect_time_unit(path)
    scale = 60.0 if unit == "minute" else 1.0
    sample = path.rsplit("/", 1)[-1]
    with open(path, "rb") as f:
        for rec in iter_spectra(f):
            if rec.level is None or rec.rt is None or rec.mz_array is None:
                continue  # malformed-spectrum guard (msproc.py:119-152)
            if rec.level == 2 and rec.target_mz is None:
                continue
            rt = round(rec.rt * scale, RT_DIGITS)
            prec = (
                round(rec.target_mz, MZ_DIGITS) if rec.level == 2 else None
            )
            for mz, inten in zip(rec.mz_array, rec.intensity_array):
                if rec.level == 2 and inten < min_intensity:
                    continue
                mz_r = round(float(mz), MZ_DIGITS)
                yield (
                    sample,
                    rec.index,
                    rec.level,
                    rt,
                    mz_r,
                    round(float(inten), I_DIGITS),
                    mz_r if rec.level == 1 else prec,
                )


def _windows_for_file(path: str) -> set[tuple[float, float]]:
    """The file's SWATH windows from its MS2 spectrum headers alone: no
    binary array is decoded."""
    out = set()
    with open(path, "rb") as f:
        for rec in map(_spectrum_header, _spectrum_elements(f)):
            if (
                rec.level == 2
                and rec.target_mz is not None
                and rec.lower_off is not None
                and rec.upper_off is not None
            ):
                out.add(
                    (rec.target_mz - rec.lower_off, rec.target_mz + rec.upper_off)
                )
    return out


DIAG_SCHEMA = StructType(
    [
        StructField("sample", StringType()),
        StructField("n_processed", LongType()),
        StructField("n_problematic", LongType()),
        StructField("n_missing_level", LongType()),
        StructField("n_missing_rt", LongType()),
        StructField("n_missing_precursor", LongType()),
        StructField("n_missing_mz", LongType()),
    ]
)


def _diagnostics_for_file(path: str) -> tuple:
    """Per-file malformed-spectrum census mirroring the reference's counters
    (msproc.py:119-152): missing MS level counts as problematic but does not
    skip; missing scan time and missing m/z array count and skip; a missing
    precursor window on an MS2 spectrum skips WITHOUT incrementing the
    problematic counter (the reference's own quirk, msproc.py:139-143 —
    counted separately here so the gap is observable)."""
    sample = path.rsplit("/", 1)[-1]
    n = n_level = n_rt = n_prec = n_mz = 0
    with open(path, "rb") as f:
        for rec in iter_spectra(f):
            n += 1
            if rec.level is None:
                n_level += 1  # counted but not skipped (msproc.py:121-126)
            if rec.rt is None:
                n_rt += 1
            elif rec.level == 2 and rec.target_mz is None:
                n_prec += 1  # reference skips without counting
            elif rec.mz_array is None:
                n_mz += 1
    # the reference's counter increments once PER ISSUE, so a spectrum
    # missing both level and scan time counts twice (msproc.py:126,131)
    n_prob = n_level + n_rt + n_mz
    return (sample, n, n_prob, n_level, n_rt, n_prec, n_mz)


def _path_frame(spark: SparkSession, paths: list[str]) -> DataFrame:
    """One ``path`` row per file, each in its own partition, built in the
    JVM: no Python pass over pickled rows and no exchange ahead of the
    per-file map."""
    if not paths:
        raise ValueError("no mzML paths given")
    n = len(paths)
    return spark.range(0, n, 1, n).select(
        F.element_at(F.lit(list(paths)), (F.col("id") + 1).cast("int")).alias(
            "path"
        )
    )


def spectrum_diagnostics(spark: SparkSession, paths: list[str]) -> DataFrame:
    """F4 observability (SURVEY §2.2): distributed per-sample counts of
    processed vs malformed spectra — the ingest-quality report the
    reference logs per file (msproc.py:199-201). One task per file; the
    result is sample-count-sized."""
    def diag(iterator):
        import pandas as pd

        for batch in iterator:
            rows = [_diagnostics_for_file(p) for p in batch["path"]]
            yield pd.DataFrame(rows, columns=[f.name for f in DIAG_SCHEMA.fields])

    return _path_frame(spark, paths).mapInPandas(diag, DIAG_SCHEMA)


def read_mzml_points(
    spark: SparkSession, paths: list[str], min_intensity: float = 0.0
) -> DataFrame:
    """Distributed mzML -> long point table (one task per file)."""
    def parse(iterator):
        import pandas as pd

        for batch in iterator:
            for path in batch["path"]:
                rows = list(_points_for_file(path, min_intensity))
                yield pd.DataFrame(
                    rows, columns=[f.name for f in POINT_SCHEMA.fields]
                )

    return _path_frame(spark, paths).mapInPandas(parse, POINT_SCHEMA)


def header_windows(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distinct SWATH isolation windows across files, in no order
    (msproc.py:524-556): one header walk per file, then a distinct."""
    def extract(iterator):
        import pandas as pd

        for batch in iterator:
            for path in batch["path"]:
                wins = sorted(_windows_for_file(path))
                yield pd.DataFrame(wins, columns=["swath_lower", "swath_upper"])

    return _path_frame(spark, paths).mapInPandas(extract, WINDOW_SCHEMA).distinct()


def extract_swath_windows(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distinct SWATH isolation windows across files, sorted by lower bound
    (msproc.py:524-556, 568-574)."""
    return header_windows(spark, paths).orderBy("swath_lower")


def assign_windows(points: DataFrame, windows: DataFrame) -> DataFrame:
    """Attach each point's SWATH window; drop out-of-SWATH points
    (msproc.py:164-170: intervaltree containment is begin <= x < end,
    first window by lower bound wins). Broadcast range join against the
    de-overlapped (first-wins-clipped) window table — the point table never
    shuffles and genuinely duplicated (mz, intensity) points survive."""
    from candia_spark.operators.relational import interval_join

    j = interval_join(
        points,
        windows,
        point_col="prec_mz",
        lo_col="swath_lower",
        hi_col="swath_upper",
        first_window_wins=True,
        closed_left=True,
    )
    return (
        j.select(
            "sample",
            "spectrum_index",
            "level",
            "rt",
            "mz",
            "intensity",
            "prec_mz",
            F.col("swath_lower").alias("prec_isolation_window_start"),
            F.col("swath_upper").alias("prec_isolation_window_end"),
        )
    )


def mzml_to_scan_table(
    spark: SparkSession, paths: list[str], min_intensity: float = 0.0
) -> DataFrame:
    """Full S1+S2+S3+F1+F2+J1 ingest: mzML files -> windowed scan table
    with the reference's 8-column layout plus ``sample``."""
    points = read_mzml_points(spark, paths, min_intensity)
    windows = extract_swath_windows(spark, paths)
    return assign_windows(points, windows)
