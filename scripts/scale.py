"""Time registered query seats on tiled copies of the base corpus.

    SPARK_GRAFT_SF_DIR=<sf dir> python scripts/scale.py q27 q81 \\
        --sizes 10 25 50 --runs 2 [--out SCALING_local.json]

Run from the repository root. For each multiplier k it writes
``.scale/x{k}/``: k tiles of the base ``documents`` and ``embeddings``
tables, and a symlink to every other base table, so any registered seat
resolves there. Seats are named by their ``qNN`` prefix. Each seat runs
under its own Spark job group; its minimum seconds over ``--runs`` and
the routing decisions its operators recorded (``candia_spark.telemetry``:
``hot_keys``, ``minhash``, ``probe``, ``cc`` ...) go into the report. A
seat that raises is recorded with its error and the run goes on. Prints
one progress line per size, then writes the report (default
``SCALING_local.json``) and removes the tiles. No run is untimed, so with
``--runs 1`` the first size also pays the session's warm-up. Large sizes
need a larger ``SPARK_DRIVER_MEMORY`` than the session's default.

Tile construction (fully deterministic — hash-derived, no RNG state):

- ``documents`` tile t of k: tile 0 is the base corpus verbatim; tile t>0
  is the base corpus with every token suffixed ``_t{t}`` (vocabulary
  renaming). Each tile therefore reproduces the base shingle-df
  distribution EXACTLY, so total inverted-index join mass grows linearly
  with tile count — the construction isolates the ENGINE's scaling
  (shuffles, aggregations, materializations) from data-inherent
  quadratics.
- near-dup injection: base ids with ``id % 20 == 3`` emit one partner per
  tile with every 20th token replaced (bigram Jaccard ~0.86 vs its
  parent, above the 0.7 pipeline threshold) — bounded cluster size, so
  the true near-dup pair count grows linearly with corpus size.
- exact-dup injection: base ids with ``id % 20 == 7`` emit one verbatim
  copy per tile (exercises exact-first dedup and J=1.0 pairs).
- ``embeddings`` tile t>0: fresh hash-uniform vectors in [-1,1]^64; ids
  with ``id % 20 == 3`` emit a small-perturbation partner
  (cosine ~0.999 >= the 0.4 dup threshold).

The registered q42, q43 and q50 fix the embedding LSH ``n_bits``, so their
in-bucket candidate mass grows as N^2/2^n_bits and this loop does not
reproduce the round-5 curve, which grew ``n_bits`` as log2(N/64). That
curve stays recorded in ``SCALING_r05.json`` (``embedding_n_bits``).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from candia_spark import telemetry  # noqa: E402
from candia_spark.plans.queries import QUERY_REGISTRY  # noqa: E402
from candia_spark.session import get_spark  # noqa: E402
from candia_spark.tables import TABLE_NAMES, load_table  # noqa: E402

OUT_ROOT = os.path.join(REPO, ".scale")
TILED = ("documents", "embeddings")
TILE_STRIDE = 1_000_000  # base ids < 10^4, partners at +5e5 / +7e5
ND_OFF = 500_000
EX_OFF = 700_000


# ---------------------------------------------------------------------------
# corpus generation
# ---------------------------------------------------------------------------

def _toks(col: str = "text"):
    return F.filter(F.split(F.lower(F.col(col)), " "), lambda t: t != "")


def build_documents(spark: SparkSession, base_dir: str, k: int, out: str) -> int:
    """Tiled documents corpus; returns row count."""
    docs = load_table(spark, base_dir, "documents")
    tiles = spark.range(k).select(F.col("id").alias("tile"))
    d = docs.crossJoin(tiles)
    suffixed = F.array_join(
        F.transform(
            _toks("text"),
            lambda x: F.concat(x, F.lit("_t"), F.col("tile").cast("string")),
        ),
        " ",
    )
    inter = d.select(
        F.col("doc_id").alias("base_id"),
        "tile",
        F.when(F.col("tile") == 0, F.col("text")).otherwise(suffixed).alias("text"),
        "lang",
        "source",
    )
    new_id = (F.col("base_id") + F.col("tile") * TILE_STRIDE).alias("doc_id")
    main = inter.select(new_id, "text", "lang", "source")
    # near-dup partner: every 20th token replaced by a tile-local marker
    nd_text = F.array_join(
        F.transform(
            _toks("text"),
            lambda x, i: F.when(
                i % 20 == 19, F.concat(F.lit("nd"), F.col("tile").cast("string"))
            ).otherwise(x),
        ),
        " ",
    )
    nd = inter.filter(F.col("base_id") % 20 == 3).select(
        (F.col("base_id") + F.col("tile") * TILE_STRIDE + ND_OFF).alias("doc_id"),
        nd_text.alias("text"),
        "lang",
        "source",
    )
    ex = inter.filter(F.col("base_id") % 20 == 7).select(
        (F.col("base_id") + F.col("tile") * TILE_STRIDE + EX_OFF).alias("doc_id"),
        "text",
        "lang",
        "source",
    )
    full = (
        main.unionByName(nd)
        .unionByName(ex)
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )
    full.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    return spark.read.parquet(os.path.join(out, "documents.parquet")).count()


def build_embeddings(spark: SparkSession, base_dir: str, k: int, out: str) -> int:
    """Tiled embeddings table; returns row count."""
    emb = load_table(spark, base_dir, "embeddings")
    tiles = spark.range(k).select(F.col("id").alias("tile"))
    d = emb.crossJoin(tiles)

    def uniform(*seed_cols):
        # hash-uniform in [-1, 1], deterministic per (id, tile, dim, salt)
        return (F.pmod(F.xxhash64(*seed_cols), F.lit(2001)) - 1000) / 1000.0

    fresh = F.transform(
        "embedding",
        lambda x, j: uniform(F.col("vec_id"), F.col("tile"), j).cast("float"),
    )
    vec = F.when(F.col("tile") == 0, F.col("embedding")).otherwise(fresh)
    inter = d.select(
        F.col("vec_id").alias("base_id"), "tile", vec.alias("embedding"), "label"
    )
    main = inter.select(
        (F.col("base_id") + F.col("tile") * TILE_STRIDE).alias("vec_id"),
        "embedding",
        "label",
    )
    nd_vec = F.transform(
        "embedding",
        lambda x, j: (
            x + 0.05 * uniform(F.col("base_id"), F.col("tile"), j, F.lit(7))
        ).cast("float"),
    )
    nd = inter.filter(F.col("base_id") % 20 == 3).select(
        (F.col("base_id") + F.col("tile") * TILE_STRIDE + ND_OFF).alias("vec_id"),
        nd_vec.alias("embedding"),
        "label",
    )
    full = main.unionByName(nd)
    full.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    return spark.read.parquet(os.path.join(out, "embeddings.parquet")).count()


def build_tiles(spark: SparkSession, base_dir: str, k: int, out: str) -> dict:
    """``documents`` and ``embeddings`` tiled k times into a fresh ``out``,
    every other base table symlinked there; returns the two row counts."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name in set(TABLE_NAMES) - set(TILED):
        target = os.path.abspath(os.path.join(base_dir, f"{name}.parquet"))
        os.symlink(target, os.path.join(out, f"{name}.parquet"))
    return {
        "n_docs": build_documents(spark, base_dir, k, out),
        "n_vecs": build_embeddings(spark, base_dir, k, out),
    }


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def reclaim(spark: SparkSession) -> None:
    """Free the localCheckpoint blocks left behind by the previous timed
    call. The dedup operators materialize intermediates (shingle index,
    signatures, censuses) as executor-local checkpoint blocks that the
    ContextCleaner only frees after BOTH the Python wrapper and the JVM
    RDD reference are garbage-collected — neither GC is prompt, so across
    a long harness run dozens of corpus-sized block sets pile up until
    storage eviction and old-gen GC dominate the later timings. Measured
    in one long run: the x25 auto-mode Jaccard run (identical plan to the pinned
    plain-mode run earlier in the same block) clocked 422 s vs 231 s —
    pure accumulated-state drag, not engine cost. One explicit
    collect-both-sides pass between timed calls keeps every measurement
    against a clean session."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    # the ContextCleaner frees blocks asynchronously off a reference
    # queue — give it a beat to drain before timing
    time.sleep(1.0)


def timed(spark: SparkSession, thunk, runs: int = 1) -> float:
    """Wall seconds for build-plan + full evaluation — minimum over ``runs``
    repeats (the same minima-as-stable-statistic methodology bench.py uses:
    one-off GC pauses and page-cache misses only ever ADD time, so the min
    is the engine's cost). The thunk returns the DataFrame — construction
    must happen INSIDE the timer because the dedup operators materialize
    eagerly (shingle-index checkpoint, cap censuses, the whole
    connected-components collapse) during plan construction."""
    best = None
    for _ in range(max(1, runs)):
        reclaim(spark)
        t0 = time.perf_counter()
        thunk().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def run_seats(spark: SparkSession, sf_dir: str, names: dict, runs: int) -> dict:
    """``{seat: {"s": min seconds, "telemetry": {...}}}``; a seat that
    raises gets ``"error"`` in place of ``"s"``."""
    out = {}
    for seat, name in names.items():
        spark.sparkContext.setJobGroup(name, name)
        query = QUERY_REGISTRY[name]
        try:
            res = {"s": timed(spark, lambda: query.spark(spark, sf_dir), runs)}
        except Exception as exc:  # noqa: BLE001 - one broken seat must not end the run
            res = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        res["telemetry"] = telemetry.pop(name)
        out[seat] = res
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("seats", nargs="+", help="seat prefixes, e.g. q27")
    ap.add_argument("--sizes", type=int, nargs="+", default=[10, 25, 50])
    ap.add_argument("--runs", type=int, default=2,
                    help="timed runs per seat; the minimum is recorded")
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_local.json"))
    args = ap.parse_args()
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not base_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the directory of the base tables")
    by_prefix = {n.split("_", 1)[0]: n for n in QUERY_REGISTRY}
    unknown = [s for s in args.seats if s not in by_prefix]
    if unknown:
        ap.error(f"no registered seat for {unknown}")
    names = {s: by_prefix[s] for s in args.seats}

    spark = get_spark(app_name="candia_scale")
    spark.sparkContext.setLogLevel("ERROR")
    report = {"base_sf_dir": base_dir, "runs": args.runs, "seats": names,
              "sizes": []}
    for k in args.sizes:
        out_dir = os.path.join(OUT_ROOT, f"x{k}")
        t0 = time.perf_counter()
        entry = {"mult": k, **build_tiles(spark, base_dir, k, out_dir)}
        entry["build_s"] = round(time.perf_counter() - t0, 3)
        entry["seats"] = run_seats(spark, out_dir, names, args.runs)
        report["sizes"].append(entry)
        print(json.dumps({"progress": f"x{k} done", **entry}), flush=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
