"""Seeded synthetic DIA (SWATH) mzML generator.

Each sample is one mzML file with a repeating acquisition cycle: one MS1
spectrum followed by one MS2 spectrum per isolation window. Into every
(window, retention-time window) slice the generator plants a few analytes,
each a rank-one component: a Gaussian elution profile in time, a fixed
fragment spectrum in m/z and one abundance per sample. A slice tensor is
therefore low-rank plus noise, so PARAFAC fit quality means something.
Uncorrelated noise peaks at random m/z sit on top.

The spectrum XML is the shape ``candia_spark.sources.mzml.iter_spectra``
reads: ms level (MS:1000511), scan start time in seconds (MS:1000016),
isolation window target and offsets (MS:1000827-829) and uncompressed
64-bit m/z and intensity arrays (MS:1000514/1000515 + MS:1000523).

The same seed gives byte-identical files.
"""

from __future__ import annotations

import base64
import os

import numpy as np

_NS = "http://psi.hupo.org/ms/mzml"

RT_WINDOW = 60.0  # the pipeline's default slice width
CYCLE_SEC = 3.0
PER_SLICE = 3  # analytes, so a slice tensor has rank 3 plus noise
FRAGMENTS = 8
NOISE_PEAKS = 20  # per spectrum


def _b64(values: np.ndarray) -> str:
    return base64.b64encode(np.asarray(values, dtype="<f8").tobytes()).decode()


def _spectrum(index: int, level: int, rt: float, mz: np.ndarray,
              intensity: np.ndarray, window: tuple[float, float] | None) -> str:
    parts = [
        f'<spectrum index="{index}" id="scan={index + 1}" '
        f'defaultArrayLength="{len(mz)}">',
        f'<cvParam accession="MS:1000511" name="ms level" value="{level}"/>',
        "<scanList><scan>",
        f'<cvParam accession="MS:1000016" name="scan start time" '
        f'value="{rt:.4f}" unitName="second"/>',
        "</scan></scanList>",
    ]
    if window is not None:
        lo, hi = window
        half = (hi - lo) / 2
        parts.append(
            "<precursorList><precursor><isolationWindow>"
            f'<cvParam accession="MS:1000827" value="{lo + half:.4f}"/>'
            f'<cvParam accession="MS:1000828" value="{half:.4f}"/>'
            f'<cvParam accession="MS:1000829" value="{half:.4f}"/>'
            "</isolationWindow></precursor></precursorList>"
        )
    parts.append(
        "<binaryDataArrayList>"
        '<binaryDataArray><cvParam accession="MS:1000514"/>'
        '<cvParam accession="MS:1000523"/>'
        f"<binary>{_b64(mz)}</binary></binaryDataArray>"
        '<binaryDataArray><cvParam accession="MS:1000515"/>'
        '<cvParam accession="MS:1000523"/>'
        f"<binary>{_b64(intensity)}</binary></binaryDataArray>"
        "</binaryDataArrayList></spectrum>\n"
    )
    return "".join(parts)


def plant_analytes(seed: int, n_windows: int, rt_span: float) -> tuple[list, list]:
    """Isolation windows (overlapping by 1 m/z, as SWATH windows do) and the
    analytes planted in them, shared by every sample of one seed."""
    rng = np.random.default_rng([seed, 1])
    width = 25.0
    windows = [(400.0 + k * width, 400.0 + (k + 1) * width + 1.0)
               for k in range(n_windows)]
    analytes = []
    for w, (lo, hi) in enumerate(windows):
        for r in range(int(rt_span / RT_WINDOW)):
            for _ in range(PER_SLICE):
                analytes.append({
                    "window": w,
                    "prec_mz": float(rng.uniform(lo + 2.0, hi - 3.0)),
                    "apex": float(r * RT_WINDOW + rng.uniform(0.25, 0.75) * RT_WINDOW),
                    "sigma": float(rng.uniform(3.5, 6.0)),
                    "frag_mz": np.sort(rng.uniform(150.0, 1200.0, FRAGMENTS)),
                    "frag_int": rng.uniform(0.1, 1.0, FRAGMENTS) * 1e4,
                })
    return windows, analytes


def write_sample(path: str, seed: int, sample: int, windows: list,
                 analytes: list, rt_span: float) -> int:
    """Write one sample's mzML; return the number of (m/z, intensity) points."""
    rng = np.random.default_rng([seed, 2, sample])
    abundance = rng.uniform(0.5, 2.0, len(analytes))
    n_cycles = int(rt_span / CYCLE_SEC)
    index = 0
    points = 0
    with open(path, "w", encoding="utf-8") as out:
        out.write('<?xml version="1.0" encoding="utf-8"?>\n')
        out.write(f'<mzML xmlns="{_NS}">\n<run><spectrumList>\n')
        for c in range(n_cycles):
            t0 = c * CYCLE_SEC
            for slot in range(len(windows) + 1):
                rt = t0 + slot * CYCLE_SEC / (len(windows) + 1)
                mz_parts, int_parts = [], []
                for a, amt in zip(analytes, abundance):
                    elution = np.exp(-0.5 * ((rt - a["apex"]) / a["sigma"]) ** 2)
                    if elution < 0.01:
                        continue
                    if slot == 0:
                        mz_parts.append(np.array([a["prec_mz"]]))
                        int_parts.append(np.array([amt * elution * 2e4]))
                    elif a["window"] == slot - 1:
                        mz_parts.append(a["frag_mz"])
                        int_parts.append(amt * elution * a["frag_int"])
                mz_parts.append(rng.uniform(150.0, 1200.0, NOISE_PEAKS))
                int_parts.append(rng.uniform(0.5, 60.0, NOISE_PEAKS))
                mz = np.concatenate(mz_parts)
                mz = mz * (1.0 + rng.normal(0.0, 2e-6, mz.size))
                inten = np.concatenate(int_parts)
                inten = inten * rng.uniform(0.95, 1.05, inten.size)
                order = np.argsort(mz, kind="stable")
                window = None if slot == 0 else windows[slot - 1]
                out.write(_spectrum(index, 1 if slot == 0 else 2, rt,
                                    mz[order], inten[order], window))
                index += 1
                points += mz.size
        out.write("</spectrumList></run>\n</mzML>\n")
    return points


def generate(out_dir: str, seed: int, samples: int, n_windows: int,
             rt_span: float) -> tuple[list[str], int]:
    """Write one mzML file per sample under ``out_dir``, each with
    ``n_windows`` isolation windows over ``rt_span`` seconds; return their
    paths and the total number of points written."""
    os.makedirs(out_dir, exist_ok=True)
    windows, analytes = plant_analytes(seed, n_windows, rt_span)
    paths, points = [], 0
    for s in range(samples):
        path = os.path.join(out_dir, f"sample{s}.mzML")
        points += write_sample(path, seed, s, windows, analytes, rt_span)
        paths.append(path)
    return paths, points

