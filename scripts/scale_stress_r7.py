"""Round-7 scaling sections, appended to SCALING_r07.json on the same
tiled corpora as scale_stress.py:

- ``block_dedup`` (q68 family): remove_duplicate_blocks over the tiled
  corpus (whose 5% exact copies per tile supply real duplicate blocks).
  The scaling claims under test: wall tracks corpus size near-linearly
  (the first-occurrence resolution is a partial-agg groupBy, so hot
  blocks collapse map-side), and per-doc cost stays flat.
- ``bm25`` (q69 family): bm25_topk at each size. The operator's cost
  model is two corpus scans (stats row + scored scan) with no corpus
  shuffle at all — the flattest curve in the repo; any super-linear
  bend would mean a shuffle crept in.
- ``novelty`` (q70 family): ngram_novelty with the src0 reference. The
  tiled corpus renames vocabulary per tile, so the reference vocabulary
  grows ~linearly with corpus size — exactly the regime that stresses
  the broadcast-vocab budget. The vocab size is recorded per size and
  the ``broadcast_vocab=False`` shuffle-join escape hatch is timed at
  the largest size (same methodology as SCALING_r06's tfidf_census).

Usage: python scripts/scale_stress_r7.py [--sizes 10 25 50] [--runs 2]
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


def run_block_dedup(spark, out_dir: str, runs: int) -> dict:
    from candia_spark.operators.dedup import remove_duplicate_blocks

    docs = _docs(spark, out_dir).select("doc_id", "text")
    sec = ss.timed(
        lambda: remove_duplicate_blocks(docs, block_words=8).select(
            "doc_id", "n_blocks", "n_kept", F.md5(F.col("clean_text").cast("binary"))
        ),
        runs=runs,
    )
    # removal actually happened (the tiled exact copies lose their blocks)
    stats = (
        remove_duplicate_blocks(docs, block_words=8)
        .agg(
            F.sum("n_blocks").alias("nb"),
            F.sum("n_kept").alias("nk"),
        )
        .collect()[0]
    )
    removed_frac = (
        float(int(stats["nb"]) - int(stats["nk"])) / float(int(stats["nb"]))
        if stats["nb"]
        else 0.0
    )
    return {"block_dedup_sec": sec, "blocks_removed_frac": round(removed_frac, 4)}


def run_bm25(spark, out_dir: str, runs: int) -> dict:
    from candia_spark.operators.retrieval import bm25_topk

    docs = _docs(spark, out_dir).select("doc_id", "text")
    sec = ss.timed(
        lambda: bm25_topk(docs, ["spark", "window", "vector"], k=15),
        runs=runs,
    )
    return {"bm25_sec": sec}


def run_novelty(spark, out_dir: str, runs: int, time_shuffle_mode: bool) -> dict:
    from candia_spark.operators.retrieval import ngram_novelty

    docs = _docs(spark, out_dir).select("doc_id", "source", "text")
    ref = F.col("source") == "src0"
    sec = ss.timed(lambda: ngram_novelty(docs, ref), runs=runs)
    # reference vocabulary size — the broadcast-budget driver
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    vocab_size = (
        docs.filter(ref)
        .select(F.explode(grams).alias("g"))
        .distinct()
        .count()
    )
    out = {"novelty_sec": sec, "ref_vocab_size": vocab_size}
    if time_shuffle_mode:
        ss.reclaim()
        out["novelty_shuffle_mode_sec"] = ss.timed(
            lambda: ngram_novelty(docs, ref, broadcast_vocab=False),
            runs=runs,
        )
    return out


def run_winnow(spark, out_dir: str, runs: int) -> dict:
    """Winnowed-fingerprint pair scan (q72 family): the claim under test
    is that the window-min subsample (~2/(window+1) density) keeps the
    inverted-index pair join tractable where the FULL shingle-index join
    at the same n is the q26-family heavyweight. Records the index sizes
    so the subsample ratio is visible next to the wall time."""
    from candia_spark.operators.dedup import (
        winnow_fingerprint_pairs,
        winnow_fingerprints,
        word_ngram_hashes,
    )

    docs = _docs(spark, out_dir).select("doc_id", "text")
    sec = ss.timed(
        lambda: winnow_fingerprint_pairs(docs, n=3, window=4, threshold=0.3),
        runs=runs,
    )
    n_fp = winnow_fingerprints(docs, n=3, window=4).count()
    n_grams = word_ngram_hashes(docs, n=3).count()
    return {
        "winnow_pairs_sec": sec,
        "fp_index_rows": n_fp,
        "full_index_rows": n_grams,
        "subsample_ratio": round(n_fp / n_grams, 4) if n_grams else None,
    }


def run_authority(spark, k: int, runs: int) -> dict:
    """Authority iteration (q73 family) isolated from edge-list
    construction: a deterministic hash graph (100k*k nodes, 10 out-edges
    each via xxhash64(src, i) % N) feeds authority_scores(iters=3). The
    claim under test: per-iteration cost is one keyed join + one keyed
    aggregation, so wall scales linearly in |E| with flat ns/edge — the
    textbook distributed PageRank shape with no hidden corpus-squared
    term."""
    from pyspark.sql import functions as F2

    from candia_spark.operators.graph import authority_scores

    n_nodes = 100_000 * k
    out_deg = 10
    nodes = spark.range(n_nodes).select(F2.col("id").alias("doc_id"))
    edges = spark.range(n_nodes).select(
        F2.col("id").alias("src"),
        F2.explode(
            F2.transform(
                F2.sequence(F2.lit(1), F2.lit(out_deg)),
                lambda i: F2.pmod(F2.xxhash64(F2.col("id"), i), F2.lit(n_nodes)),
            )
        ).alias("dst"),
    )
    # warm the graph-family codegen shapes (join + keyed agg + div expr)
    # once — the harness's global warmup covers the text family only, and
    # an unwarmed first size otherwise carries ~8 s of JIT into its
    # minimum (measured 18.1 s polluted vs 10.6 s clean at 10M edges)
    authority_scores(edges.limit(1000), nodes.limit(1000), iters=1).count()
    sec = ss.timed(
        lambda: authority_scores(edges, nodes, iters=3), runs=runs
    )
    n_edges = n_nodes * out_deg
    return {
        "authority_sec": sec,
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "ns_per_edge_iter": round(sec / (3 * n_edges) * 1e9, 1),
    }


def run_rolling_block(spark, out_dir: str, runs: int) -> dict:
    """Rolling block dedup (q78 family): a FIXED ~500-doc batch rewritten
    against the block census of a corpus growing 10x->50x. The rolling
    claim under test: with the census persisted, per-batch wall tracks
    the BATCH (near-flat), while the full corpus+batch rerun grows with
    the corpus — the incremental_dedup (q54) experiment shape applied to
    the C4 rewrite."""
    import os as _os

    from pyspark.sql import functions as F2

    from candia_spark.operators.dedup import block_census, remove_duplicate_blocks

    docs = _docs(spark, out_dir).select("doc_id", "text")
    from candia_spark.tables import load_table

    # fixed batch derived from the BASE corpus: byte-identical at every
    # corpus size (the r6 incremental-dedup methodology)
    base = load_table(spark, ss.BASE_SF, "documents")
    batch = (
        base.filter(F2.col("doc_id") % 11 == 0)
        .select((F2.col("doc_id") + 90_000_000).alias("doc_id"), "text")
        .limit(500)
    )
    t0 = time.perf_counter()
    census_path = _os.path.join(out_dir, "block_census.parquet")
    block_census(docs, block_words=8).write.mode("overwrite").parquet(census_path)
    census_sec = round(time.perf_counter() - t0, 3)
    census = spark.read.parquet(census_path)
    inc_sec = ss.timed(
        lambda: remove_duplicate_blocks(
            batch, block_words=8, corpus_firsts=census
        ),
        runs=runs,
    )
    full_sec = ss.timed(
        lambda: remove_duplicate_blocks(
            docs.unionByName(batch), block_words=8
        ),
        runs=runs,
    )
    n_census = census.count()
    return {
        "census_build_sec": census_sec,
        "census_blocks": n_census,
        "incremental_batch_sec": inc_sec,
        "full_rerun_sec": full_sec,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[10, 25, 50])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--keep-data", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_r07.json"))
    ap.add_argument(
        "--only",
        nargs="+",
        default=["block", "bm25", "novelty", "winnow"],
        choices=["block", "bm25", "novelty", "winnow", "authority", "rollingblock"],
    )
    args = ap.parse_args()

    from candia_spark.session import get_spark

    spark = get_spark(app_name="candia_scale_stress_r7")
    spark.sparkContext.setLogLevel("ERROR")
    ss._SPARK_FOR_RECLAIM = spark

    from candia_spark.operators.dedup import word_ngram_hashes
    from candia_spark.tables import load_table

    word_ngram_hashes(load_table(spark, ss.BASE_SF, "documents").limit(200)).count()

    report: dict = {
        "base_sf_dir": ss.BASE_SF,
        "runs_per_query": args.runs,
        "sizes": [],
    }
    max_size = max(args.sizes)
    needs_corpus = bool(set(args.only) & {"block", "bm25", "novelty", "winnow", "rollingblock"})
    for k in args.sizes:
        out_dir = os.path.join(ss.OUT_ROOT, f"r7_x{k}")
        if needs_corpus:
            t0 = time.perf_counter()
            n_docs = ss.build_documents(spark, k, out_dir)
            gen_sec = round(time.perf_counter() - t0, 3)
        else:
            n_docs, gen_sec = 0, 0.0
        entry = {"mult": k, "n_docs": n_docs, "gen_sec": gen_sec}
        if "block" in args.only:
            ss.reclaim()
            entry.update(run_block_dedup(spark, out_dir, args.runs))
        if "bm25" in args.only:
            ss.reclaim()
            entry.update(run_bm25(spark, out_dir, args.runs))
        if "novelty" in args.only:
            ss.reclaim()
            entry.update(run_novelty(spark, out_dir, args.runs, k == max_size))
        if "winnow" in args.only:
            ss.reclaim()
            entry.update(run_winnow(spark, out_dir, args.runs))
        if "authority" in args.only:
            ss.reclaim()
            entry.update(run_authority(spark, k, args.runs))
        if "rollingblock" in args.only:
            ss.reclaim()
            entry.update(run_rolling_block(spark, out_dir, args.runs))
        report["sizes"].append(entry)
        print(json.dumps({"progress": f"x{k} done", **entry}), flush=True)
        if not args.keep_data:
            shutil.rmtree(out_dir, ignore_errors=True)

    if len(report["sizes"]) >= 2:
        norm = {}
        for q in (
            "block_dedup_sec",
            "bm25_sec",
            "novelty_sec",
            "winnow_pairs_sec",
        ):
            if q in report["sizes"][0]:
                norm[q.replace("_sec", "_us_per_doc")] = [
                    round(s[q] / s["n_docs"] * 1e6, 3) for s in report["sizes"]
                ]
        report["per_doc_normalized_us"] = norm

    existing = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            existing = json.load(f)
    section = (
        "r7_new_operators"
        if set(args.only) >= {"block", "bm25", "novelty"}
        else "r7_" + "_".join(sorted(args.only))
    )
    existing[section] = report
    with open(args.out, "w") as f:
        json.dump(existing, f, indent=1)
    print(json.dumps({"wrote": args.out}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
