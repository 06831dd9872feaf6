"""Round-6 scaling sections (verdict r5 #3/#4), appended to
SCALING_r06.json on the same tiled corpora as scale_stress.py:

- ``incremental_dedup`` (q54 family): a FIXED batch checked against a
  corpus growing 10x->50x; the fresh path re-aggregates the corpus per
  call (corpus-linear curve). The persisted-state regime recorded in
  SCALING_r06.json is no longer in the package.
- ``tfidf_census`` (q52 family): census size (distinct terms — the tiled
  corpus renames vocabulary per tile, so it grows ~linearly) vs the
  broadcast budget, with the broadcast_census=False escape hatch timed
  at the largest size.
- ``curation_chain`` (q62): the full four-stage curate_corpus per size,
  per-doc normalized.
- ``semdedup_hierarchical`` (verdict r5 #4): the 100 TB SemDeDup
  composition — kmeans_hierarchical leaves injected into
  cluster_closest_pairs via ``clusters=`` — head-to-head against the
  flat-k path at the SAME leaf count (k1*k2 ~ n_vecs/250), with the
  leaf pair mass (sum |c|*(|c|-1)/2) recorded so the pair-scan cost can
  be read against the mass it scans.

Usage: python scripts/scale_stress_r6.py [--sizes 10 25 50] [--runs 2]
[--skip-semdedup-flat]  (the flat-k SemDeDup leg at x50 is ~10 min of
flat k-means alone; it runs once, not --runs times, like the r5 pinned
jaccard legs)
"""

from __future__ import annotations

import argparse
import json
import math
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


def build_fixed_batch(spark):
    """~500 deterministic batch docs derived from the BASE corpus (so the
    batch is byte-identical at every corpus size): every 11th base doc
    with every 25th token replaced (bigram Jaccard ~0.85 vs its tile-0
    parent, above the 0.7 verify threshold), ids offset to 9e7."""
    from candia_spark.tables import load_table

    base = load_table(spark, ss.BASE_SF, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    perturbed = F.array_join(
        F.transform(
            toks,
            lambda x, i: F.when(i % 25 == 24, F.lit("batchtok")).otherwise(x),
        ),
        " ",
    )
    return (
        base.filter(F.col("doc_id") % 11 == 0)
        .select(
            (F.col("doc_id") + 90_000_000).alias("doc_id"),
            perturbed.alias("text"),
        )
    )


def run_incremental(spark, sf_dir: str, runs: int) -> dict:
    from candia_spark.operators.dedup import incremental_near_dups
    from candia_spark.tables import load_table

    corpus = load_table(spark, sf_dir, "documents")
    batch = build_fixed_batch(spark)
    out: dict = {"batch_docs": batch.count()}

    out["fresh_sec"] = ss.timed(
        lambda: incremental_near_dups(batch, corpus, threshold=0.7), runs=runs
    )
    out["n_pairs"] = incremental_near_dups(batch, corpus, threshold=0.7).count()
    return out


def run_tfidf(spark, sf_dir: str, runs: int, with_escape_hatch: bool) -> dict:
    from candia_spark.functions.text import tokens
    from candia_spark.operators.curation import top_tfidf_terms
    from candia_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = {"n_terms": docs.select(F.explode(tokens())).distinct().count()}
    out["broadcast_sec"] = ss.timed(lambda: top_tfidf_terms(docs), runs=runs)
    if with_escape_hatch:
        out["shuffle_join_sec"] = ss.timed(
            lambda: top_tfidf_terms(docs, broadcast_census=False), runs=runs
        )
    return out


def run_curation_chain(spark, sf_dir: str, runs: int) -> dict:
    from candia_spark.operators.curation import curate_corpus
    from candia_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return {
        "q62_curate_corpus_sec": ss.timed(
            lambda: curate_corpus(
                docs, min_quality=0.5, source_cap=40, budget=256
            ),
            runs=runs,
        )
    }


def run_semdedup(spark, sf_dir: str, n_vecs: int, runs: int, flat: bool) -> dict:
    from candia_spark.operators.clustering import (
        cluster_closest_pairs,
        kmeans_hierarchical,
    )
    from candia_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k1 = k2 = max(3, math.ceil(math.sqrt(n_vecs / 250)))
    out: dict = {"k1": k1, "k2": k2, "flat_k": k1 * k2}

    def hier_pairs():
        leaves = kmeans_hierarchical(emb, k1=k1, k2=k2, iters1=2, iters2=2)
        return cluster_closest_pairs(
            emb, clusters=leaves.select("vec_id", "cluster")
        )

    out["hier_sec"] = ss.timed(hier_pairs, runs=runs)
    # leaf pair mass: what the in-cluster pair scan actually scans
    leaves = kmeans_hierarchical(emb, k1=k1, k2=k2, iters1=2, iters2=2)
    sizes = leaves.select("cluster", "cluster_size").distinct()
    row = sizes.agg(
        F.sum(F.col("cluster_size") * (F.col("cluster_size") - 1) / 2).alias("m"),
        F.max("cluster_size").alias("mx"),
        F.count(F.lit(1)).alias("leaves"),
    ).collect()[0]
    out["leaf_pair_mass"] = int(row["m"] or 0)
    out["max_leaf"] = int(row["mx"] or 0)
    out["n_leaves"] = int(row["leaves"] or 0)
    if flat:
        # single run (the r5 pinned-leg convention): flat k-means alone is
        # ~N*flat_k*dim*3 work — the curve under test
        out["flat_sec"] = ss.timed(
            lambda: cluster_closest_pairs(emb, k=k1 * k2, iters=3), runs=1
        )
        out["speedup"] = round(out["flat_sec"] / out["hier_sec"], 2)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[10, 25, 50])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--skip-semdedup-flat", action="store_true")
    ap.add_argument("--keep-data", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_r06.json"))
    ap.add_argument(
        "--only",
        nargs="+",
        default=["incremental", "tfidf", "curation", "semdedup"],
        choices=["incremental", "tfidf", "curation", "semdedup"],
    )
    args = ap.parse_args()

    from candia_spark.session import get_spark

    spark = get_spark(app_name="candia_scale_stress_r6")
    spark.sparkContext.setLogLevel("ERROR")
    ss._SPARK_FOR_RECLAIM = spark

    from candia_spark.operators.dedup import word_ngram_hashes
    from candia_spark.tables import load_table

    word_ngram_hashes(load_table(spark, ss.BASE_SF, "documents").limit(200)).count()

    sections: dict[str, dict] = {
        name: {"runs_per_query": args.runs, "sizes": []}
        for name in args.only
    }
    max_size = max(args.sizes)
    for k in args.sizes:
        out_dir = os.path.join(ss.OUT_ROOT, f"r6_x{k}")
        t0 = time.perf_counter()
        n_docs = ss.build_documents(spark, k, out_dir)
        n_vecs = (
            ss.build_embeddings(spark, k, out_dir)
            if "semdedup" in args.only
            else 0
        )
        gen_sec = round(time.perf_counter() - t0, 3)
        base = {"mult": k, "n_docs": n_docs, "gen_sec": gen_sec}
        if "incremental" in args.only:
            ss.reclaim()
            sections["incremental"]["sizes"].append(
                {**base, **run_incremental(spark, out_dir, args.runs)}
            )
        if "tfidf" in args.only:
            ss.reclaim()
            sections["tfidf"]["sizes"].append(
                {**base, **run_tfidf(spark, out_dir, args.runs, k == max_size)}
            )
        if "curation" in args.only:
            ss.reclaim()
            sections["curation"]["sizes"].append(
                {**base, **run_curation_chain(spark, out_dir, args.runs)}
            )
        if "semdedup" in args.only:
            ss.reclaim()
            sections["semdedup"]["sizes"].append(
                {
                    **base,
                    "n_vecs": n_vecs,
                    **run_semdedup(
                        spark, out_dir, n_vecs, args.runs,
                        flat=not args.skip_semdedup_flat,
                    ),
                }
            )
        print(json.dumps({"progress": f"r6_x{k} done"}), flush=True)
        if not args.keep_data:
            shutil.rmtree(out_dir, ignore_errors=True)

    # per-doc/per-vec normalization: near-flat = the per-batch / per-doc
    # cost does not grow with the corpus
    def norm(section, key, denom_key, scale=1e6):
        rows = sections[section]["sizes"]
        if len(rows) >= 2 and all(key in r for r in rows):
            sections[section][f"{key}_usec_per_{denom_key}"] = [
                round(r[key] / r[denom_key] * scale, 3) for r in rows
            ]

    if "incremental" in args.only:
        rows = sections["incremental"]["sizes"]
        if len(rows) >= 2:
            sections["incremental"]["fresh_sec_by_size"] = [
                r["fresh_sec"] for r in rows
            ]
    if "tfidf" in args.only:
        norm("tfidf", "broadcast_sec", "n_docs")
    if "curation" in args.only:
        norm("curation", "q62_curate_corpus_sec", "n_docs")
    if "semdedup" in args.only:
        rows = sections["semdedup"]["sizes"]
        if len(rows) >= 2:
            sections["semdedup"]["hier_usec_per_vec"] = [
                round(r["hier_sec"] / r["n_vecs"] * 1e6, 3) for r in rows
            ]

    report = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            report = json.load(f)
    name_map = {
        "incremental": "incremental_dedup",
        "tfidf": "tfidf_census",
        "curation": "curation_chain",
        "semdedup": "semdedup_hierarchical",
    }
    for short, full in name_map.items():
        if short in args.only:
            report[full] = sections[short]
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"metric": "scale_stress_r6", "out": args.out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
