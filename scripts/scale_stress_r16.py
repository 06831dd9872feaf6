"""Round-16 scaling sections, written to SCALING_r16.json:

- ``rolling_drift``: the retrain signal (VERDICT r15 next #1c) — the
  index trains ONCE on the base corpus, then drifting batches roll in
  through ``ivfadc_encode_batch`` (each batch's cluster structure
  shifted further from the training sample); after every batch,
  recall@10 of the FROZEN index on queries drawn from the new batch,
  vs exact truth over the rolled corpus. A falling curve is the
  measured "retrain now" instrument a deployment reads.

- ``split_cost``: the hot-cell split remedy on a planted skewed corpus
  at each size — max_cell_frac before/after and the split's wall.

The ``scan_pruning`` and ``append_cost`` sections of SCALING_r16.json
measured the persisted index store, which is no longer in the package.

Usage: python scripts/scale_stress_r16.py [--sizes 10 25] [--runs 2]
       [--only rolling_drift split_cost]

Partial ``--only`` runs MERGE into SCALING_r16.json (the r9 harness
convention)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from pyspark.sql import functions as F  # noqa: E402

import scale_stress_r15 as r15  # noqa: E402

BASE_VECS = 2_000
K_TRUTH = 10
KW = dict(m=8, codewords=16, coarse_k=16, coarse_iters=2, pq_iters=2)


def _drifted_batch(spark, n, batch_idx, lane_shift):
    """The drift model: the batch's vectors are the clustered family
    with every lane shifted by ``lane_shift`` — after unit
    normalization the direction rotates steadily away from the
    training sample, which is exactly what a real corpus does to a
    frozen quantizer. ``batch_idx`` only namespaces the ids."""
    ids_from = 1_000_000 * batch_idx
    base = r15._clustered_embeddings(spark, n)
    return base.select(
        (F.col("vec_id") + F.lit(ids_from)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(float(lane_shift))
        ).alias("embedding"),
    )


def run_rolling_drift(spark, sizes, runs, n_batches=4, shift=6.0):
    from candia_spark.operators.similarity import (
        cosine_topk_int8,
        ivfadc_build_index,
        ivfadc_encode_batch,
        pq_topk_ivfadc_residual,
    )

    out = {"claim": (
        "the frozen-index deployment's drift instrument: recall@10 of "
        "the rolled index on each arriving batch's own queries, vs "
        "exact truth over the rolled corpus. Batch 1 is "
        "IN-DISTRIBUTION (zero shift) — its recall is the baseline the "
        "index was sized for; later batches shift further from the "
        "training sample and the recall GAP to that baseline is the "
        "measured retrain signal (the drop is front-loaded: once the "
        "shifted mass crowds into few frozen cells the curve "
        "plateaus — reading the gap, not the slope, is the operating "
        "instruction)"
    ), "sizes": {}}
    for k in sizes:
        n = BASE_VECS * k
        base = r15._mat(r15._clustered_embeddings(spark, n))
        idx = ivfadc_build_index(base, **KW)
        frozen = dict(
            centroids=idx["centroids"],
            cell_centroids=idx["cell_centroids"],
            codebook=idx["codebook"],
        )
        encoded = idx["encoded_cells"]
        rolled = base
        curve = []
        for b in range(1, n_batches + 1):
            # batch 1 carries ZERO shift — the in-distribution baseline
            lane_shift = (b - 1) * shift
            batch = r15._mat(_drifted_batch(spark, n // 4, b, lane_shift))
            t0 = time.perf_counter()
            encoded = r15._mat(encoded.unionByName(
                ivfadc_encode_batch(batch, **frozen, m=KW["m"])
            ))
            wall = time.perf_counter() - t0
            rolled = r15._mat(rolled.unionByName(batch))
            qs = r15._mat(
                batch.filter(F.col("vec_id") % 29 == 0).select(
                    F.col("vec_id").alias("query_id"), "embedding"
                )
            )
            truth = cosine_topk_int8(rolled, qs, k=K_TRUTH)
            approx = pq_topk_ivfadc_residual(
                None, qs, k=K_TRUTH, nprobe=4, encoded_cells=encoded,
                **frozen, **KW,
            )
            rec = r15._mean_recall(spark, truth, approx)
            curve.append({
                "batch": b, "lane_shift": lane_shift,
                "recall_at_10": rec, "encode_wall_s": round(wall, 3),
            })
            print(json.dumps({"rolling_drift": k, **curve[-1]}), flush=True)
        out["sizes"][str(k)] = {"n_base_vectors": n, "curve": curve}
    return out


def _skewed(spark, n, dim=64):
    hot = int(n * 0.9)
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.when(
            F.col("vec_id") < hot,
            F.lit(10.0) + 0.01 * ((F.col("vec_id") * 3 + d) % 7),
        ).otherwise(
            ((F.col("vec_id") * 11 + d * 5) % 17 - 8).cast("double")
        ),
    )
    return base.select("vec_id", vec.alias("embedding"))


def run_split_cost(spark, sizes, runs):
    from candia_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_probe_cells,
    )
    from candia_spark.operators.similarity import split_hot_cells

    out = {"claim": (
        "the guard's remedy #3 measured: one more Lloyd's over the hot "
        "cell's members replaces its centroid row; max_cell_frac drops "
        "from ~0.9 to the split children's shares, and the split's wall "
        "is a bounded number of member-subset training passes"
    ), "sizes": {}}
    for k in sizes:
        n = BASE_VECS * k
        emb = r15._mat(_skewed(spark, n))
        cent = r15._mat(kmeans_centroids(emb, k=8, iters=2))

        def frac(c):
            rows = (
                kmeans_probe_cells(emb, c, nprobe=1, id_col="vec_id")
                .groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            ns = [int(r["n"]) for r in rows]
            return round(max(ns) / sum(ns), 4), len(ns)

        before, n_cells0 = frac(cent)
        t0 = time.perf_counter()
        split = r15._mat(
            split_hot_cells(emb, cent, max_cell_frac=0.5, split_k=8)
        )
        wall = time.perf_counter() - t0
        after, n_cells1 = frac(split)
        out["sizes"][str(k)] = {
            "n_vectors": n,
            "max_cell_frac_before": before,
            "max_cell_frac_after": after,
            "n_cells_before": n_cells0,
            "n_cells_after": n_cells1,
            "split_wall_s": round(wall, 3),
        }
        print(json.dumps({"split_cost": k, **out["sizes"][str(k)]}),
              flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", nargs="+", type=int, default=[10, 25])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--only", nargs="+",
        default=["rolling_drift", "split_cost"],
    )
    args = ap.parse_args()

    from candia_spark.session import get_spark

    spark = get_spark(app_name="candia_scale_r16")
    spark.sparkContext.setLogLevel("ERROR")

    sections = {
        "rolling_drift": lambda: run_rolling_drift(
            spark, args.sizes, args.runs
        ),
        "split_cost": lambda: run_split_cost(spark, args.sizes, args.runs),
    }
    out_path = os.path.join(REPO, "SCALING_r16.json")
    result = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            result = json.load(f)
    for name in args.only:
        t0 = time.perf_counter()
        result[name] = sections[name]()
        result[name]["section_wall_s"] = round(time.perf_counter() - t0, 1)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
