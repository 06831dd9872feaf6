"""Round-14 scaling sections, written to SCALING_r14.json:

- ``repin``: the r13 watch item (pair/graph bench family drift) — 3
  PROCESS-ISOLATED trials per query (fresh JVM each, the q88_repin
  procedure generalized) for q71/q72/q73/q77/q82/q86/q87/q88 at sf0.1,
  per-query minima vs the committed BENCH_local minima history. If the
  +7% r12->r13 minima drift survives isolation the floor moved; if not
  it was session accumulation/environment.

- ``pqtrain``: pq_codebook_kmeans (per-subspace Lloyd's, iters=2) at
  x10/x25/x50. Claim: per iteration one broadcast-centroid map pass
  over N*m thin subvector rows + one (sub, code, pos) recenter whose
  exchanged volume is O(partitions x m x K x d/m) — linear in N with
  falling per-vector cost; the trained codebook also must not increase
  total encode distortion vs the first-k stub (ratio reported).

- ``psl``: load_psl wildcard expansion against a growing observed-host
  census. Claim: driver parse is constant (~file size); the grounding
  join is distinct-hosts x broadcast wildcard bases — linear in hosts.

- ``tivf``: the q124 fully-trained IVFADC at x10/x25/x50 — one-time
  index build (coarse train + cells + PQ train + encode) vs per-batch
  search against the persisted index, plus the MEASURED probed_mass
  (trained cells are uneven, unlike the pinned q119 grid).

- ``phash8``: phash_near_dups n_bands=8 (pigeonhole-complete to
  Hamming 7) vs the default 4-band run on the same corpora. Claim: 2x
  probe rows and finer bands; candidate mass and wall reported so the
  recall/cost trade is a measured number, not a guess.

Usage: python scripts/scale_stress_r14.py [--sizes 10 25 50] [--runs 2]
       [--only repin pqtrain psl phash8]

Partial ``--only`` runs MERGE into SCALING_r14.json (the r9 harness
convention)."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import scale_stress as ss  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def _mat(df):
    return df.localCheckpoint(eager=True)

BASE_VECS = 2_000
BASE_HOSTS = 2_000
BASE_IMGS = 2_000
DIM = 64

REPIN_QUERIES = [
    "q71_containment_pairs",
    "q72_winnow_splice_pairs",
    "q73_dedup_graph_authority",
    "q77_weighted_authority",
    "q82_personalized_authority",
    "q86_bigram_assoc",
    "q87_cluster_safe_split",
    "q88_canonical_docs",
]

_REPIN_SNIPPET = r"""
import os, sys, time, json
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
sys.path.insert(0, {repo!r})
from candia_spark.session import get_spark
from candia_spark.plans.queries import QUERY_REGISTRY
from pyspark.sql import functions as F
spark = get_spark(app_name="repin_r14")
spark.sparkContext.setLogLevel("ERROR")
# bench.py's family warmups
QUERY_REGISTRY["q02_interval_join"].spark(spark, {sf!r}).count()
spark.range(10).select(
    F.aggregate(F.sequence(F.lit(0), F.lit(3)),
                F.lit(0).cast("bigint"), lambda a, v: a + v)
).count()
# run the target twice: run 1 pays the per-JVM JIT/codegen of the
# query's own operator paths (in bench.py, ~100 earlier queries paid
# it); run 2 is the steady-state cost ISOLATED from any other query's
# accumulated checkpoint blocks — the number comparable to the
# committed BENCH_local per-query minima.
out = {{"q": {name!r}}}
for leg in ("cold", "warm"):
    t0 = time.perf_counter()
    QUERY_REGISTRY[{name!r}].spark(spark, {sf!r}).write.format(
        "noop").mode("overwrite").save()
    out[leg] = round(time.perf_counter() - t0, 3)
print("REPIN_JSON " + json.dumps(out))
"""


def run_repin(sf_dir: str = "/root/testdata/sf0.1", trials: int = 3) -> dict:
    out: dict = {"procedure": (
        "fresh python+JVM per trial (process isolation: no accumulated "
        "checkpoint blocks from OTHER queries), bench.py warmups, then "
        "the target runs twice per process — 'cold' carries the query's "
        "own per-JVM JIT/codegen (bench.py amortizes that across ~100 "
        "earlier queries), 'warm' is the steady-state cost comparable "
        f"to the committed BENCH_local per-query minima; min over {trials} "
        "process trials"
    ), "trials": trials, "min_warm_sec": {}, "all": {}}
    for name in REPIN_QUERIES:
        runs = []
        for _ in range(trials):
            code = _REPIN_SNIPPET.format(repo=REPO, sf=sf_dir, name=name)
            proc = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True, text=True, timeout=600,
            )
            for line in proc.stdout.splitlines():
                if line.startswith("REPIN_JSON "):
                    runs.append(json.loads(line[len("REPIN_JSON "):]))
        out["all"][name] = runs
        warms = [r["warm"] for r in runs]
        out["min_warm_sec"][name] = min(warms) if warms else None
        print(json.dumps({"repin": name, "runs": runs}), flush=True)
    return out


def _vec_corpus(spark, n_vecs: int):
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            ((F.col("id") * 31 + j * 17) % 29 - 14).cast("double") / 14.0
        ).cast("float"),
    )
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    )


def run_pqtrain(spark, n_vecs: int, runs: int) -> dict:
    from candia_spark.operators.similarity import (
        pq_codebook_first_k,
        pq_codebook_kmeans,
        pq_encode,
    )

    corpus = _mat(_vec_corpus(spark, n_vecs))
    sec_train = ss.timed(
        lambda: pq_codebook_kmeans(corpus, m=8, codewords=16, iters=2), runs
    )

    def distortion(cb):
        enc = pq_encode(corpus, cb, m=8)
        from candia_spark.operators.similarity import quantize_int8

        q = quantize_int8(corpus, "embedding", "vec_id", 127)
        subs = q.select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda s: F.struct(
                        s.cast("bigint").alias("sub"),
                        F.slice("qvec", s * 8 + 1, 8).alias("sv"),
                    ),
                )
            ).alias("__e"),
        ).select(
            "vec_id", F.col("__e.sub").alias("sub"), F.col("__e.sv").alias("sv")
        )
        d = F.aggregate(
            F.zip_with("sv", "cw", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"), lambda a, v: a + v,
        )
        return (
            subs.join(enc, ["vec_id", "sub"])
            .join(F.broadcast(cb), ["sub", "code"])
            .agg(F.sum(d)).collect()[0][0]
        )

    trained = _mat(
        pq_codebook_kmeans(corpus, m=8, codewords=16, iters=2)
    )
    stub = _mat(pq_codebook_first_k(corpus, m=8, codewords=16))
    d_trained, d_stub = distortion(trained), distortion(stub)
    return {
        "n_vecs": n_vecs,
        "train_sec": sec_train,
        "train_us_per_vec": round(sec_train * 1e6 / n_vecs, 2),
        "distortion_trained": int(d_trained),
        "distortion_first_k_stub": int(d_stub),
        "distortion_ratio": round(d_trained / max(d_stub, 1), 4),
    }


def run_psl(spark, n_hosts: int, runs: int) -> dict:
    from candia_spark.operators.curation import load_psl

    lines = ["// ===BEGIN ICANN DOMAINS===", "com", "uk", "co.uk",
             "*.ck", "!www.ck", "*.jp"]
    hosts = _mat(spark.range(n_hosts).select(
        F.concat(
            F.lit("h"), (F.col("id") % 500).cast("string"),
            F.lit("."),
            F.when(F.col("id") % 3 == 0, "ck")
            .when(F.col("id") % 3 == 1, "jp")
            .otherwise("co.uk"),
        ).alias("host")
    ))
    sec = ss.timed(lambda: load_psl(spark, lines=lines, hosts=hosts), runs)
    return {
        "n_hosts": n_hosts,
        "sec": sec,
        "us_per_host": round(sec * 1e6 / n_hosts, 2),
    }


def _image_corpus(spark, n_docs: int):
    payload = F.encode(
        F.concat(
            *[F.md5((F.col("id") + F.lit(i * 1_000_003)).cast("string"))
              for i in range(6)]
        ),
        "UTF-8",
    )
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"), payload.alias("payload")
    )


def run_phash8(spark, n_docs: int, runs: int) -> dict:
    from candia_spark.operators.multimodal import dhash64, phash_near_dups

    docs = _mat(_image_corpus(spark, n_docs))
    sig = _mat(dhash64(docs))
    sec4 = ss.timed(
        lambda: phash_near_dups(docs, signatures=sig, n_bands=4), runs
    )
    sec8 = ss.timed(
        lambda: phash_near_dups(docs, signatures=sig, n_bands=8), runs
    )
    n4 = phash_near_dups(docs, signatures=sig, n_bands=4).count()
    n8 = phash_near_dups(docs, signatures=sig, n_bands=8).count()
    return {
        "n_docs": n_docs,
        "bands4_sec": sec4,
        "bands8_sec": sec8,
        "bands8_over_bands4_wall": round(sec8 / max(sec4, 1e-9), 2),
        "pairs_bands4": n4,
        "pairs_bands8": n8,
    }


def run_tivf(spark, n_vecs: int, runs: int) -> dict:
    """Fully-trained IVFADC (q124's chain): one-time index build
    (coarse train + cells + PQ train + encode) vs per-batch search
    against the persisted index; probed_mass = the corpus fraction the
    probes actually score (trained cells are UNEVEN, unlike the pinned
    q119 grid, so this is a measured number per size)."""
    import time as _t

    from candia_spark.operators.clustering import (
        kmeans_assign,
        kmeans_centroids,
    )
    from candia_spark.operators.similarity import (
        pq_codebook_kmeans,
        pq_encode,
        pq_topk_ivf_trained,
    )

    corpus = _mat(_vec_corpus(spark, n_vecs))
    qs = _mat(corpus.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ))
    t0 = _t.perf_counter()
    cent = _mat(kmeans_centroids(corpus, k=8, iters=2, scale=1000))
    cells = kmeans_assign(corpus, k=8, iters=2, scale=1000).select(
        "vec_id", F.col("cluster").alias("bucket")
    )
    cb = _mat(pq_codebook_kmeans(corpus, m=8, codewords=16, iters=2))
    enc = _mat(pq_encode(corpus, cb, m=8).join(cells, "vec_id"))
    build_sec = _t.perf_counter() - t0
    sec_search = ss.timed(
        lambda: pq_topk_ivf_trained(
            corpus, qs, k=5, nprobe=3, codebook=cb, centroids=cent,
            encoded_cells=enc,
        ),
        runs,
    )
    from candia_spark.operators.clustering import kmeans_probe_cells

    sizes = enc.filter(F.col("sub") == 0).groupBy("bucket").count()
    probes = kmeans_probe_cells(qs, cent, nprobe=3, scale=1000).select(
        "query_id", F.col("cluster").alias("bucket")
    )
    scored_rows = (
        probes.join(sizes, "bucket")
        .agg(F.sum("count")).collect()[0][0]
    )
    n_q = qs.count()
    return {
        "n_vecs": n_vecs,
        "n_queries": n_q,
        "build_sec_one_time": round(build_sec, 3),
        "search_sec": sec_search,
        "search_us_per_vec": round(sec_search * 1e6 / n_vecs, 2),
        "probed_mass": round(scored_rows / (n_q * n_vecs), 4),
    }


LEGS = {
    "pqtrain": (run_pqtrain, BASE_VECS),
    "tivf": (run_tivf, BASE_VECS),
    "psl": (run_psl, BASE_HOSTS),
    "phash8": (run_phash8, BASE_IMGS),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+", default=[10, 25, 50])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_r14.json"))
    ap.add_argument(
        "--only", nargs="+", default=["repin", *LEGS],
        choices=["repin", *LEGS],
    )
    args = ap.parse_args()

    report: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            report = json.load(fh)
    report["runs"] = args.runs

    if "repin" in args.only:
        # process-isolated: NO shared session with the other legs
        report["pair_graph_repin"] = run_repin(trials=args.trials)
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)

    spark_legs = [k for k in args.only if k != "repin"]
    if spark_legs:
        from candia_spark.session import get_spark

        spark = get_spark(app_name="candia_scale_stress_r14")
        spark.sparkContext.setLogLevel("ERROR")
        ss._SPARK_FOR_RECLAIM = spark
        for key in spark_legs:
            fn, base = LEGS[key]
            fn(spark, max(base // 10, 50), 1)  # JIT warmup (r7 lesson)
            ss.reclaim()
        for key in spark_legs:
            fn, base = LEGS[key]
            rows = report.setdefault(key, {})
            for k in args.sizes:
                entry = fn(spark, base * k, args.runs)
                rows[f"x{k}"] = entry
                ss.reclaim()
                print(json.dumps({"progress": f"{key} x{k}", **entry}),
                      flush=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps({"done": args.out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
