"""Round-9 scaling sections, written to SCALING_r09.json:

- ``compaction`` (verdict r8 next #3 — the only r8 additions with no
  SCALING entry): the rolling compaction loop at x10/x25/x50 corpus
  size with a FIXED-size ingestion batch. The claim under test is the
  compaction contract itself: folding a batch into the persisted state
  costs O(batch) — one batch split/minhash plus an anti-join against a
  narrow column scan of the stored table — while rebuilding the state
  from scratch costs O(corpus). Measured: ``compact_block_census``
  (q80's device, against a parquet-persisted block census); the
  near-dedup state half recorded in SCALING_r09.json is no longer in
  the package. A widening rebuild/compact gap with
  corpus size is the pass criterion; flat (or falling, as fixed
  overhead amortizes) compact seconds is the contract.
- ``authority`` (verdict r8 next #6): integer-exact authority iteration
  one order beyond SCALING_r07's 10M-edge point — 10^6/10^7/10^8 edges
  (out-degree 10) at init=1e11, recording which overflow-guard regime
  engaged per size from the ``authority`` telemetry record: the 10^5/10^6-node
  graphs satisfy the static whole-trajectory bound (num*N*init < 2^63,
  zero per-iteration checks), while the 10^7-node graph fails it and
  runs under the per-iteration dynamic check — which, as of this round,
  rides each iteration's own materialization job as an Observation
  metric, so the telemetry also certifies the guard's zero-job cost at
  the scale where it matters.

- ``textfilters`` (round-9 additions q85/q86/q87): bigram-coherence
  scoring, span-level contamination coverage against a FIXED benchmark,
  and the cluster-safe split audit over a linear pair graph, each at
  x10/x25/x50 — linearity (flat per-doc cost) is the pass criterion.

Usage: python scripts/scale_stress_r9.py [--sizes 10 25 50]
       [--edge-sizes 1000000 10000000 100000000] [--runs 2]
       [--only compaction authority textfilters]
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

BATCH_DOCS = 2_000  # fixed across corpus sizes — the compaction contract


def _split_corpus_batch(spark, out_dir: str):
    """Tiled corpus -> (corpus, batch): the batch is the FIXED-size tail
    by doc_id rank (ids tile sparsely, so the cut is the BATCH_DOCS-th
    largest id, not max-BATCH_DOCS), in the regime where every corpus id
    orders before every batch id — stored + delta == from-scratch
    rebuild row-for-row. Batch docs get a per-doc novel suffix so the
    census delta is non-empty (a verbatim tile repeat would produce
    zero novel blocks and measure only the anti-join floor)."""
    docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
    cut = (
        docs.select("doc_id")
        .orderBy(F.desc("doc_id"))
        .limit(BATCH_DOCS)
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    corpus = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" nv"),
            F.col("doc_id").cast("string"),
            F.lit(" batchnovel suffix tokens for census delta rows"),
        ),
    )
    return corpus, batch


def run_compaction(spark, out_dir: str, runs: int) -> dict:
    from candia_spark.operators.dedup import (
        block_census,
        compact_block_census,
    )

    corpus, batch = _split_corpus_batch(spark, out_dir)
    n_corpus = corpus.count()
    n_batch = batch.count()

    # --- block-census half (q78/q80's loop) ---------------------------
    census_dir = os.path.join(out_dir, "census.parquet")
    t0 = time.perf_counter()
    block_census(corpus, block_words=8).write.mode("overwrite").parquet(
        census_dir
    )
    rebuild_census_sec = round(time.perf_counter() - t0, 3)
    stored_census = spark.read.parquet(census_dir)

    compact_census_sec = ss.timed(
        lambda: compact_block_census(stored_census, batch, block_words=8),
        runs,
    )
    delta_census_rows = compact_block_census(
        stored_census, batch, block_words=8
    ).count()

    return {
        "n_corpus_docs": n_corpus,
        "n_batch_docs": n_batch,
        "rebuild_census_sec": rebuild_census_sec,
        "compact_census_sec": compact_census_sec,
        "delta_census_rows": delta_census_rows,
    }


def run_authority(spark, n_edges: int, runs: int, init: int) -> dict:
    from candia_spark import telemetry
    from candia_spark.operators.graph import authority_scores

    n_nodes = max(n_edges // 10, 1)
    gdir = os.path.join(ss.OUT_ROOT, f"graph_r9_{n_edges}")
    edges_path = os.path.join(gdir, "edges.parquet")
    t0 = time.perf_counter()
    (
        spark.range(n_edges)
        .select(
            (F.col("id") % n_nodes).alias("src"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("dst"),
        )
        .write.mode("overwrite")
        .parquet(edges_path)
    )
    gen_sec = round(time.perf_counter() - t0, 3)
    edges = spark.read.parquet(edges_path)
    nodes = spark.range(n_nodes).select(F.col("id").alias("doc_id"))

    iters = 3
    sec = ss.timed(
        lambda: authority_scores(edges, nodes, iters=iters, init=init), runs
    )
    auth = telemetry.pop().get("authority", {})
    telem = {
        k: auth.get(k)
        for k in ("static_safe", "dynamic_checks", "n_nodes", "n_edges")
    }
    shutil.rmtree(gdir, ignore_errors=True)
    return {
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "init": init,
        "iters": iters,
        "gen_sec": gen_sec,
        "authority_sec": sec,
        "ns_per_edge_iter": round(sec * 1e9 / (n_edges * iters), 1),
        **telem,
    }


def run_textfilters(spark, out_dir: str, runs: int) -> dict:
    """Round-9 new-operator legs (q85/q86/q87):

    - ``bigram_assoc``: the only corpus-scale shuffle is the bigram
      census join (Heaps-unbounded vocab), so total seconds should grow
      ~linearly with the corpus and per-doc cost stay ~flat even though
      the tiled vocabulary itself grows with the multiplier (recorded).
    - ``contamination_spans``: FIXED benchmark (tile-0 %97 slice,
      constant across multipliers) broadcast against a growing corpus —
      one positioned-shingle scan probing map-side; linear corpus cost,
      matched mass pinned by the benchmark.
    - ``cluster_safe_split``: the audit's own marginal over a prebuilt
      linear pair graph (the tiled near-dup partners, one pair per nd
      doc — pair GENERATION scaling is the q26-family curve in earlier
      SCALING rounds). Claim: an 8-byte labeling join + two keyed aggs,
      linear-at-worst.
    """
    from candia_spark.operators.curation import (
        bigram_assoc,
        cluster_safe_split,
    )
    from candia_spark.operators.dedup import contamination_spans

    docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
    n_docs = docs.count()

    bigram_sec = ss.timed(lambda: bigram_assoc(docs), runs)
    bigram_vocab = (
        docs.select(F.explode(ss._toks("text")).alias("t"))
        .agg(F.count_distinct("t"))
        .collect()[0][0]
    )

    base = F.col("doc_id") % ss.TILE_STRIDE
    is_bench = (F.col("doc_id") < ss.TILE_STRIDE) & (F.col("doc_id") % 97 == 0)
    bench = docs.filter(is_bench)
    corpus = docs.filter(~is_bench)
    n_bench = bench.count()
    spans_sec = ss.timed(
        lambda: contamination_spans(corpus, bench, n=3), runs
    )
    spans_rows = contamination_spans(corpus, bench, n=3).count()

    # linear pair graph from the tiled near-dup partners: (orig, nd)
    pairs = docs.filter(
        (base >= ss.ND_OFF) & (base < ss.EX_OFF)
    ).select(
        (F.col("doc_id") - ss.ND_OFF).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    n_pairs = pairs.count()
    split_sec = ss.timed(lambda: cluster_safe_split(docs, pairs), runs)

    # q91's pure-map self-repetition rewrite: zero exchanges, so wall
    # must track the scan — flat per-doc cost is the claim
    from candia_spark.operators.dedup import remove_self_repeated_blocks

    selfrep_sec = ss.timed(
        lambda: remove_self_repeated_blocks(docs, block_words=4), runs
    )

    return {
        "n_docs": n_docs,
        "bigram_assoc_sec": bigram_sec,
        "bigram_vocab": bigram_vocab,
        "bigram_us_per_doc": round(bigram_sec * 1e6 / n_docs, 1),
        "n_bench_docs": n_bench,
        "contamination_spans_sec": spans_sec,
        "contaminated_docs": spans_rows,
        "n_pairs": n_pairs,
        "cluster_safe_split_sec": split_sec,
        "selfrep_rewrite_sec": selfrep_sec,
        "selfrep_us_per_doc": round(selfrep_sec * 1e6 / n_docs, 1),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[10, 25, 50])
    ap.add_argument(
        "--edge-sizes", type=int, nargs="+",
        default=[1_000_000, 10_000_000, 100_000_000],
    )
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--init", type=int, default=10**11)
    ap.add_argument("--keep-data", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_r09.json"))
    ap.add_argument(
        "--only", nargs="+", default=["compaction", "authority"],
        choices=["compaction", "authority", "textfilters"],
    )
    args = ap.parse_args()

    from candia_spark.session import get_spark

    spark = get_spark(app_name="candia_scale_stress_r9")
    spark.sparkContext.setLogLevel("ERROR")
    ss._SPARK_FOR_RECLAIM = spark

    report: dict = {
        "base_sf_dir": ss.BASE_SF,
        "runs": args.runs,
        "batch_docs": BATCH_DOCS,
        "compaction": [],
        "authority": [],
        "textfilters": [],
    }

    if "compaction" in args.only:
        # family warmup (harness doctrine): one tiny census build so
        # the first size's minimum is not a JIT measurement
        from candia_spark.operators.dedup import block_census
        from candia_spark.tables import load_table

        warm = load_table(spark, ss.BASE_SF, "documents").limit(200)
        block_census(warm, block_words=8).count()

        for k in args.sizes:
            out_dir = os.path.join(ss.OUT_ROOT, f"tiles_r9_{k}")
            n_docs = ss.build_documents(spark, k, out_dir)
            ss.reclaim()
            entry = {"multiplier": k, "n_docs": n_docs}
            entry.update(run_compaction(spark, out_dir, args.runs))
            report["compaction"].append(entry)
            print(json.dumps({"progress": f"compaction x{k} done", **entry}),
                  flush=True)
            if not args.keep_data:
                shutil.rmtree(out_dir, ignore_errors=True)

    if "authority" in args.only:
        # graph-family warmup (r7 lesson: first size carries ~8s JIT)
        from candia_spark.operators.graph import authority_scores

        we = spark.range(10_000).select(
            (F.col("id") % 1000).alias("src"),
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("dst"),
        )
        wn = spark.range(1000).select(F.col("id").alias("doc_id"))
        authority_scores(we, wn, iters=2, init=args.init).count()

        for ne in args.edge_sizes:
            ss.reclaim()
            entry = run_authority(spark, ne, args.runs, args.init)
            report["authority"].append(entry)
            print(json.dumps({"progress": f"authority {ne} done", **entry}),
                  flush=True)

    if "textfilters" in args.only:
        # family warmup: tiny runs so the first size's minimum is not JIT
        from candia_spark.operators.curation import bigram_assoc
        from candia_spark.operators.dedup import contamination_spans
        from candia_spark.tables import load_table

        warm = load_table(spark, ss.BASE_SF, "documents").limit(200)
        bigram_assoc(warm).count()
        contamination_spans(
            warm, warm.filter(F.col("doc_id") % 97 == 0), n=3
        ).count()

        for k in args.sizes:
            out_dir = os.path.join(ss.OUT_ROOT, f"tiles_r9t_{k}")
            n_docs = ss.build_documents(spark, k, out_dir)
            ss.reclaim()
            entry = {"multiplier": k, "n_docs": n_docs}
            entry.update(run_textfilters(spark, out_dir, args.runs))
            report["textfilters"].append(entry)
            print(json.dumps({"progress": f"textfilters x{k} done", **entry}),
                  flush=True)
            if not args.keep_data:
                shutil.rmtree(out_dir, ignore_errors=True)

    # partial runs (--only) merge into an existing artifact instead of
    # clobbering the sections that already ran
    merged = report
    if os.path.exists(args.out):
        with open(args.out) as f:
            merged = json.load(f)
        for key in ("compaction", "authority", "textfilters"):
            if report.get(key):
                merged[key] = report[key]
    with open(args.out, "w") as f:
        json.dump(merged, f, indent=1)
    print(json.dumps({"written": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
