"""Small-format adapters (SURVEY.md §2.1 S10-S13): MGF and FASTA sinks,
charge-expansion rewrite, typed TSV/CSV report readers. All driver-side or
schema'd ``spark.read.csv`` — none are row-volume hot paths.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_mgf(
    path: str,
    spectra: Iterable[dict],
    mz_digits: int = 10,
    i_digits: int = 8,
) -> int:
    """MGF sink (msproc.py:423-440 behavior): one BEGIN/END IONS block per
    spectrum with TITLE/PEPMASS params and '%.{mz}g %.{i}g' peak lines."""
    n = 0
    with open(path, "w") as out:
        for s in spectra:
            out.write("BEGIN IONS\n")
            out.write(f"TITLE=scan={s['scan_no']}\n")
            pm = s.get("prec_intensity")
            out.write(
                f"PEPMASS={s['prec_mz']:.{mz_digits}g}"
                + (f" {pm:.{i_digits}g}" if pm is not None else "")
                + "\n"
            )
            if "charge" in s:
                out.write(f"CHARGE={s['charge']}+\n")
            if "rtinseconds" in s:
                out.write(f"RTINSECONDS={s['rtinseconds']}\n")
            if "seq" in s:
                out.write(f"SEQ={s['seq']}\n")
            for mz, inten in zip(s["mz"], s["intensity"]):
                out.write(f"{mz:.{mz_digits}g} {inten:.{i_digits}g}\n")
            out.write("END IONS\n")
            n += 1
    return n


def expand_charges(
    spectra: Iterable[dict],
    charges: tuple[int, ...] = (2, 3),
    fake_rt: float = 100.0,
    fake_seq: str = "PEPTIDE",
) -> Iterator[dict]:
    """S11 (adjust_mgf_files.py:32-66 behavior): duplicate every spectrum
    once per assumed charge, rewriting title/charge and adding the fake
    rt/seq params DeepNovo requires."""
    for s in spectra:
        for z in charges:
            dup = dict(s)
            dup["charge"] = z
            dup["scan_no"] = f"{s['scan_no']}.{z}"
            dup["rtinseconds"] = fake_rt
            dup["seq"] = fake_seq
            yield dup


def write_fasta(path: str, sequences: Iterable[tuple[str, str]], width: int = 60) -> int:
    """FASTA sink (seqproc.py:80-93 behavior): '>id' + wrapped sequence."""
    n = 0
    with open(path, "w") as out:
        for seq_id, seq in sequences:
            out.write(f">{seq_id}\n")
            for i in range(0, len(seq), width):
                out.write(seq[i : i + width] + "\n")
            n += 1
    return n


# --- S13: typed report readers -------------------------------------------

# Per-tool schema + rename maps (seqproc.py:23-58; gather_model_evaluation
# _results.py:93-121 column conventions). Columns are normalized to
# (scan, sequence, score) so downstream joins are tool-agnostic.
REPORT_FORMATS: dict[str, dict] = {
    "novor": {
        "options": {"sep": ",", "comment": "#", "header": "false"},
        "schema": "id INT, scan INT, rt DOUBLE, mz DOUBLE, z INT, pepMass DOUBLE,"
        " err DOUBLE, ppm DOUBLE, score DOUBLE, peptide STRING, aaScore STRING",
        "renames": {"peptide": "sequence"},
    },
    "deepnovo": {
        "options": {"sep": "\t", "header": "true"},
        "schema": "scan STRING, predicted_sequence STRING, predicted_score DOUBLE,"
        " predicted_position_score STRING, precursor_mz DOUBLE,"
        " precursor_charge DOUBLE",
        "renames": {"predicted_sequence": "sequence", "predicted_score": "score"},
    },
    "blastp6": {
        "options": {"sep": "\t", "header": "false"},
        "schema": "qseqid STRING, sseqid STRING, pident DOUBLE, length INT,"
        " mismatch INT, gapopen INT, qstart INT, qend INT, sstart INT,"
        " send INT, evalue DOUBLE, bitscore DOUBLE",
        "renames": {},
    },
    "percolator_psms": {
        "options": {"sep": "\t", "header": "true"},
        "schema": None,  # header-complete TSVs: infer against the header
        "renames": {"percolator q-value": "qvalue"},
    },
}


def read_report(
    spark: SparkSession, path: str, fmt: str, extra_renames: dict[str, str] | None = None
) -> DataFrame:
    """Read a sequencer/search report with its per-tool schema and
    normalized column names."""
    spec = REPORT_FORMATS[fmt]
    reader = spark.read
    for k, v in spec["options"].items():
        reader = reader.option(k, v)
    if spec["schema"]:
        df = reader.schema(spec["schema"]).csv(path)
    else:
        df = reader.option("inferSchema", "true").csv(path)
    for old, new in {**spec["renames"], **(extra_renames or {})}.items():
        if old in df.columns:
            df = df.withRenamedColumn(old, new) if hasattr(df, "withRenamedColumn") else df.withColumnRenamed(old, new)
    return df


def strip_modifications(df: DataFrame, seq_col: str = "sequence") -> DataFrame:
    """Remove PTM annotations '(...)' and 'mod' markers from sequences
    (seqproc.py:38,53 regexes)."""
    return df.withColumn(
        seq_col,
        F.regexp_replace(F.regexp_replace(F.col(seq_col), r"\(.+?\)", ""), "mod", ""),
    )


WET_REQUIRED_HEADER = "WARC-Type"


def read_wet_records(
    spark: SparkSession, path: str, keep_raw: bool = False
) -> DataFrame:
    """Read WARC/WET conversion records (the Common Crawl plain-text
    interchange: 'WARC/1.0' + header lines + blank line + extracted-text
    payload, records back to back) — the upstream of every web-scale
    corpus pipeline, feeding q111's extraction siblings directly.

    Spark-native split: ``spark.read.text`` with lineSep='WARC/1.0'
    makes each WARC record one row WITHOUT any Python in the scan —
    the file splits per record boundary JVM-side and parallelizes per
    file like any text source. Header fields come out via regexp; the
    payload is everything after the first blank line. Rows that carry
    no WARC-Type header (file preamble, truncated tails) are routed to
    ``_malformed`` = true (pass ``keep_raw`` to also retain their raw
    block in a ``_raw`` column) — the mzML F4 malformed-input stance,
    never a dropped byte on a 100 TB crawl.
    (Caveat of the token split: a payload LINE equal to 'WARC/1.0'
    splits its record early; the orphan tail then has no WARC-Type and
    lands in the _malformed route instead of silently corrupting a
    neighbor — real WET conversion payloads do not contain bare WARC
    version lines.)

    Output: (record_id, target_uri, warc_date, content_length bigint,
    text, _malformed boolean); with ``keep_raw`` a ``_raw`` column is
    added holding the malformed blocks' original bytes (NULL on clean
    rows) so :func:`write_wet_records`'s ``preserve_malformed`` mode can
    carry them through a rewrite.

    Payload trimming is EXACTLY the fixed record terminator — one
    ``\\r\\n`` followed by either the WARC spec's second ``\\r\\n`` or
    the text datasource's ``\\n``, or (LF-only files) the ``\\n\\n``
    terminator — never an unbounded trailing-newline run, so a payload
    that genuinely ends in newline(s) keeps them and the round-trip
    stays byte-exact (Content-Length included). One documented
    ambiguity (pytest-pinned): a record TRUNCATED at EOF with no
    terminator whose payload genuinely ends in a newline sequence has
    its final ``\\r\\n`` / ``\\n`` read as a (partial) terminator and
    trimmed — indistinguishable byte patterns; the rule is symmetric
    for CRLF and LF files, and ``content_length`` still reports the
    header value so the truncation is detectable downstream."""
    raw = spark.read.option("lineSep", "WARC/1.0").text(path)
    return _wet_project(raw, keep_raw)


def _wet_project(raw: DataFrame, keep_raw: bool) -> DataFrame:
    """The one WET record projection (header regexps, fixed-terminator
    payload trim, malformed routing) shared verbatim by the batch and
    stream readers."""
    block = F.col("value")
    # payload = after the first blank line (\r\n\r\n or \n\n); headers
    # before it. regexp_extract with (?s) spans newlines.
    headers = F.regexp_extract(block, r"(?s)^(.*?)\r?\n\r?\n", 1)
    # trim ONLY the fixed terminator: the record's closing \r\n plus
    # either the spec's second \r\n (real WET files) or the text
    # datasource's appended \n (files written by write_wet_records) —
    # OR, for LF-only files (ADVICE r14: the header split already
    # tolerates \n\n, so payload trimming must too), the \n\n record
    # terminator (\n alone at EOF-truncated tails).
    # \z (absolute end), not $: Java's $ also matches BEFORE a final
    # line terminator, which would let the pattern consume a genuine
    # payload \r\n one position early.
    payload = F.regexp_replace(
        F.regexp_extract(block, r"(?s)\r?\n\r?\n(.*)$", 1),
        r"(\r\n(\r\n|\n)?|\n\n?)\z",
        "",
    )

    def hdr(name: str):
        return F.regexp_extract(
            headers, r"(?m)^" + name + r":\s*(.*?)\r?$", 1
        )

    ok = hdr(WET_REQUIRED_HEADER) != ""
    cols = [
        hdr("WARC-Record-ID").alias("record_id"),
        hdr("WARC-Target-URI").alias("target_uri"),
        hdr("WARC-Date").alias("warc_date"),
        F.nullif(hdr("Content-Length"), F.lit("")).cast("bigint").alias(
            "content_length"
        ),
        F.when(ok, payload).otherwise(F.lit("")).alias("text"),
        (~ok).alias("_malformed"),
    ]
    if keep_raw:
        cols.append(
            F.when(~ok, block).otherwise(F.lit(None).cast("string")).alias(
                "_raw"
            )
        )
    return raw.filter(F.trim(block) != "").select(*cols)


def write_wet_records(
    df: DataFrame, path: str, preserve_malformed: bool = False
) -> None:
    """Write (record_id, target_uri, warc_date, text) rows as WET
    conversion records. Distributed text writer — each row renders its
    full record (headers + blank line + payload); Content-Length is the
    payload's byte length, computed in-plan. Round-trips through
    :func:`read_wet_records` (pytest-pinned).

    With ``preserve_malformed`` the frame must carry the
    ``_malformed``/``_raw`` columns from ``read_wet_records(...,
    keep_raw=True)``: malformed blocks are re-emitted as
    ``WARC/1.0 + _raw`` (re-attaching the separator token the lineSep
    split consumed) so a 100 TB crawl migration carries every byte
    through — the blocks stay on the ``_malformed`` route on re-read.
    Caveat: junk BEFORE a file's first record (a preamble, which never
    had the token) gains the ``WARC/1.0`` prefix on rewrite; its bytes
    and its malformed routing are preserved, its file position is not
    distinguishable post-split."""
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: "),
        F.col("record_id"),
        F.lit("\r\nWARC-Target-URI: "),
        F.col("target_uri"),
        F.lit("\r\nWARC-Date: "),
        F.col("warc_date"),
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n"),
    )
    if preserve_malformed:
        missing = {"_malformed", "_raw"} - set(df.columns)
        if missing:
            raise ValueError(
                "preserve_malformed requires read_wet_records(..., "
                f"keep_raw=True) columns; missing {sorted(missing)}"
            )
        # strip the one trailing \n the text datasource appended at the
        # original write (the block kept it through the lineSep split);
        # the datasource will re-append it on this write.
        rec = F.when(
            F.col("_malformed"),
            F.concat(
                F.lit("WARC/1.0"),
                F.regexp_replace(F.col("_raw"), r"\n$", ""),
            ),
        ).otherwise(rec)
    df.select(rec.alias("value")).write.mode("overwrite").text(path)
