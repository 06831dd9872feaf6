"""Round-8 scaling sections, written to SCALING_r08.json:

- ``winnow_zipf`` (verdict r7 #2/#4): winnow_fingerprint_pairs on the
  Zipf shared-vocabulary corpus (scale_stress.build_zipf_corpus — the
  skew regime SCALING_r07's disjoint-vocabulary tiles structurally
  cannot produce). The claim under test: the UNCAPPED pair scan blows
  up with corpus size because boilerplate-grade fingerprints hit large
  document fractions (df² pair mass), while an ABSOLUTE hot-fingerprint
  cap keeps it near-linear — Σ_{df<=cap} df² <= cap · Σ df =
  cap · index_rows, i.e. O(corpus) by construction. (The FRACTIONAL cap
  is the semantic knob — drop corpus-wide boilerplate — but df <=
  frac·N still admits Θ(N²) mass on a shared-vocabulary corpus; the
  absolute cap is the mass-bound knob, and this section measures that
  distinction.) hot_fps/fp_rows telemetry rides next to the wall
  times. The uncapped leg is measured only up to --uncapped-max docs
  and SKIPPED above (recorded as null, not hidden) — at the largest
  size the uncapped join is exactly the explosion the cap prevents.
- ``containment_zipf`` (verdict r7 #4): the containment family on the
  same Zipf corpus — capped standalone (q71's call shape, absolute cap
  for the same mass bound) and the shorter-side witness-sketch
  candidates path (q81; k=16 witnesses — recall (1-0.9)^16 ≈ 1e-16 at
  the 0.9 threshold — each fanning out to at most cap postings). Cap
  statistics recorded. On a shared-vocabulary corpus the candidate set
  is inherently dense (that is the data, not the engine), so the claim
  is bounded mass per witness, not a tiny candidate list.
- ``corpus_diff`` (verdict r7 #5 measurement gap): q76's operator at
  x10/x25/x50 — old = tiled corpus, new = same corpus with ~1/13 of
  docs dropped, ~1/17 edited, plus a fixed added slice. The claim: the
  diff joins 48-byte (id, digest) rows only, so wall tracks corpus size
  linearly with flat per-doc cost and text never shuffles.
- ``dup_matrix`` (same gap): q79's S x S normalized-digest matrix at
  x10/x25/x50 — per-source DISTINCT digest census collapses map-side
  before the digest self-join, so flat per-doc cost.

Usage: python scripts/scale_stress_r8.py [--zipf-docs 20000 50000 100000]
       [--sizes 10 25 50] [--runs 2] [--uncapped-max 50000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scale_stress as ss  # noqa: E402  (sibling harness: builders + timer)

from pyspark.sql import functions as F  # noqa: E402


def _docs(spark, out_dir: str):
    return spark.read.parquet(os.path.join(out_dir, "documents.parquet"))


# ---------------------------------------------------------------------------
# Zipf skew legs (winnowing + containment)
# ---------------------------------------------------------------------------

def run_winnow_zipf(spark, zipf_dir: str, runs: int, uncapped: bool) -> dict:
    from candia_spark import telemetry
    from candia_spark.operators.dedup import winnow_fingerprint_pairs

    docs = _docs(spark, zipf_dir).select("doc_id", "text")
    out: dict = {}
    capped_sec = ss.timed(
        lambda: winnow_fingerprint_pairs(
            docs, n=3, window=4, threshold=0.3, max_fp_df=500
        ),
        runs=runs,
    )
    out["capped_sec"] = capped_sec
    capped = telemetry.pop().get("winnow", {})
    out["capped_fp_rows"] = capped.get("fp_rows")
    out["capped_hot_fps"] = capped.get("hot_fps")
    if uncapped:
        ss.reclaim()
        out["uncapped_sec"] = ss.timed(
            lambda: winnow_fingerprint_pairs(docs, n=3, window=4, threshold=0.3),
            runs=runs,
        )
        out["uncapped_fp_rows"] = telemetry.pop().get("winnow", {}).get("fp_rows")
    else:
        # explicitly recorded as skipped, never silently dropped: the
        # uncapped join at this size IS the df^2 explosion under test
        out["uncapped_sec"] = None
        out["uncapped_skipped"] = "over --uncapped-max; df^2 pair mass"
    return out


def run_containment_zipf(spark, zipf_dir: str, runs: int) -> dict:
    from candia_spark.operators.dedup import (
        containment_candidate_pairs,
        ngram_containment_pairs,
        shingle_index,
    )

    docs = _docs(spark, zipf_dir).select("doc_id", "text")
    cap = 100  # absolute: pair mass <= cap * index_rows, linear in docs
    # q71's standalone shape: capped inverted-index scan
    capped_sec = ss.timed(
        lambda: ngram_containment_pairs(
            docs, n=2, threshold=0.9, max_shingle_df=cap
        ),
        runs=runs,
    )
    ss.reclaim()

    # q81's candidates shape: witness sketch probes the SAME capped index
    def _witness():
        idx = shingle_index(docs, 2, max_shingle_df=cap)
        cands = containment_candidate_pairs(docs, num_hashes=16, index=idx)
        return ngram_containment_pairs(
            docs, n=2, threshold=0.9, candidates=cands, index=idx
        )

    witness_sec = ss.timed(_witness, runs=runs)
    # cap statistics for the corpus at this size (how much of the Zipf
    # head the absolute cap removes)
    from candia_spark.operators.dedup import word_ngram_hashes

    base = word_ngram_hashes(docs, 2)
    hot = (
        base.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .count()
    )
    return {
        "capped_standalone_sec": capped_sec,
        "witness_candidates_sec": witness_sec,
        "shingle_df_cap": cap,
        "hot_shingles_over_cap": hot,
    }


# ---------------------------------------------------------------------------
# tiled-corpus legs (corpus diff + dup matrix)
# ---------------------------------------------------------------------------

def run_corpus_diff(spark, out_dir: str, runs: int) -> dict:
    from candia_spark.operators.curation import corpus_diff

    docs = _docs(spark, out_dir).select("doc_id", "text")
    old = docs
    # deterministic snapshot drift: drop ~1/13, edit ~1/17, add a fixed
    # slice re-identified out of the id space
    new = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 17 == 0,
                F.concat(F.col("text"), F.lit(" edited-r8")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 80_000_000).alias("doc_id"), "text"
            )
        )
    )
    sec = ss.timed(lambda: corpus_diff(old, new), runs=runs)
    return {"corpus_diff_sec": sec}


def run_dup_matrix(spark, out_dir: str, runs: int) -> dict:
    from candia_spark.functions.text import normalize_text

    docs = _docs(spark, out_dir).select("source", "text")

    def _matrix():
        digests = docs.select(
            "source", F.md5(normalize_text("text").cast("binary")).alias("nd")
        ).distinct()
        a = digests.select(F.col("source").alias("source_a"), "nd")
        b = digests.select(F.col("source").alias("source_b"), "nd")
        return (
            a.join(b, "nd")
            .filter(F.col("source_a") <= F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        )

    sec = ss.timed(_matrix, runs=runs)
    n_sources = docs.select("source").distinct().count()
    return {"dup_matrix_sec": sec, "n_sources": n_sources}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--zipf-docs", type=int, nargs="+",
                    default=[10_000, 20_000, 50_000])
    ap.add_argument("--zipf-tokens", type=int, default=50)
    ap.add_argument("--uncapped-max", type=int, default=20_000)
    ap.add_argument("--sizes", type=int, nargs="+", default=[10, 25, 50])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--keep-data", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_r08.json"))
    ap.add_argument(
        "--only",
        nargs="+",
        default=["winnow_zipf", "containment_zipf", "corpus_diff", "dup_matrix"],
        choices=["winnow_zipf", "containment_zipf", "corpus_diff", "dup_matrix"],
    )
    args = ap.parse_args()

    from candia_spark.session import get_spark

    spark = get_spark(app_name="candia_scale_stress_r8")
    spark.sparkContext.setLogLevel("ERROR")
    ss._SPARK_FOR_RECLAIM = spark

    # family warmup (harness doctrine: a new operator family's first
    # size otherwise carries JIT into its minimum)
    from candia_spark.operators.dedup import (
        winnow_fingerprint_pairs,
        word_ngram_hashes,
    )
    from candia_spark.tables import load_table

    warm = load_table(spark, ss.BASE_SF, "documents").limit(200)
    word_ngram_hashes(warm).count()
    winnow_fingerprint_pairs(warm, n=3, window=4, threshold=0.3).count()

    report: dict = {
        "base_sf_dir": ss.BASE_SF,
        "runs": args.runs,
        "zipf": [],
        "sizes": [],
    }

    zipf_legs = [o for o in args.only if o.endswith("_zipf")]
    if zipf_legs:
        for nd in args.zipf_docs:
            zdir = os.path.join(ss.OUT_ROOT, f"zipf_r8_{nd}")
            n = ss.build_zipf_corpus(
                spark, n_docs=nd, n_tokens=args.zipf_tokens, out=zdir
            )
            entry: dict = {"n_docs": n, "n_tokens_per_doc": args.zipf_tokens}
            if "winnow_zipf" in args.only:
                ss.reclaim()
                entry["winnow"] = run_winnow_zipf(
                    spark, zdir, args.runs, uncapped=nd <= args.uncapped_max
                )
            if "containment_zipf" in args.only:
                ss.reclaim()
                entry["containment"] = run_containment_zipf(
                    spark, zdir, args.runs
                )
            report["zipf"].append(entry)
            print(json.dumps({"progress": f"zipf {nd} done", **entry}),
                  flush=True)
            if not args.keep_data:
                shutil.rmtree(zdir, ignore_errors=True)

    tiled_legs = [o for o in args.only if not o.endswith("_zipf")]
    if tiled_legs:
        for k in args.sizes:
            out_dir = os.path.join(ss.OUT_ROOT, f"tiles_r8_{k}")
            n_docs = ss.build_documents(spark, k, out_dir)
            entry = {"multiplier": k, "n_docs": n_docs}
            if "corpus_diff" in args.only:
                ss.reclaim()
                entry.update(run_corpus_diff(spark, out_dir, args.runs))
            if "dup_matrix" in args.only:
                ss.reclaim()
                entry.update(run_dup_matrix(spark, out_dir, args.runs))
            report["sizes"].append(entry)
            print(json.dumps({"progress": f"x{k} done", **entry}), flush=True)
            if not args.keep_data:
                shutil.rmtree(out_dir, ignore_errors=True)

    # per-doc normalization: near-linear scaling shows as a flat (or
    # falling, as fixed overhead amortizes) usec/doc curve
    for key, rows, fields in (
        ("zipf_usec_per_doc", report["zipf"],
         [("winnow_capped", lambda e: e.get("winnow", {}).get("capped_sec")),
          ("winnow_uncapped", lambda e: e.get("winnow", {}).get("uncapped_sec")),
          ("containment_capped",
           lambda e: e.get("containment", {}).get("capped_standalone_sec")),
          ("containment_witness",
           lambda e: e.get("containment", {}).get("witness_candidates_sec"))]),
        ("tiled_usec_per_doc", report["sizes"],
         [("corpus_diff", lambda e: e.get("corpus_diff_sec")),
          ("dup_matrix", lambda e: e.get("dup_matrix_sec"))]),
    ):
        if len(rows) >= 2:
            norm = {}
            for name, get in fields:
                vals = [
                    round(get(e) / e["n_docs"] * 1e6, 3)
                    if get(e) is not None
                    else None
                    for e in rows
                ]
                if any(v is not None for v in vals):
                    norm[name] = vals
            report[key] = norm

    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"metric": "scale_stress_r8", "out": args.out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
