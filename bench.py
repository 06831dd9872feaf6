"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}. Stderr carries one more JSON line, {"telemetry": {"q73":
{"authority": {...}, "codegen": {"compiles": N}, "jobs": J}, ...}}: the
routing decisions each query's operators recorded
(``candia_spark.telemetry``), the classes Janino compiled during its runs
and its Spark jobs per run, keyed by short name. A rise in compiles on a
repeated plan shows a codegen-cache miss as a number rather than as
unexplained wall time, and the job count is the deterministic counter
beside each timing.

``--runs N`` (default 1) times every query N times and reports the
per-query MINIMUM — the stable statistic on a box with ±20% run-to-run
noise (the round-4 local-evidence methodology, folded into the one
harness so driver evidence and local evidence share a code path).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


HEADLINE = [
    "q01_pricing_summary",
    "q02_interval_join",
    "q04_time_buckets",
    "q06_two_level_count_filter",
    "q08_histogram_cutoff",
    "q09_band_join",
    "q12_star_join_revenue",
    "q15_count_distinct_argmax",
]


# The harness that runs the bench keeps only the LAST 2000 bytes of
# stdout; with 67 registered queries the full-name JSON line is ~2600
# bytes, so its tail parse fails (`parsed: null` in BENCH_r05/r06). Emit the
# unique qNN prefixes instead — the full registry names live in
# plans/queries.py and BENCH_local artifacts keep the long form.
def short(qname: str) -> str:
    return qname.split("_", 1)[0]


def result_line(
    timings: dict[str, float], errors: dict[str, str], sf: float | None, runs: int
) -> str:
    """The one stdout JSON line, compact (no spaces after separators) so
    every registered query's timing fits the 1900-byte budget."""
    out = {
        "metric": "total_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {short(k): v for k, v in timings.items()},
        "sf": sf,
    }
    if runs > 1:
        out["runs"] = runs  # per-query minima over this many runs
    if errors:
        out["errors"] = {short(k): v for k, v in errors.items()}
    return json.dumps(out, separators=(",", ":"))


def time_query(spark, name, build, sf_dir, runs, timings, errors) -> dict:
    """Run one query ``runs`` times under its own job group and return its
    stderr telemetry entry: the routing its operators recorded against the
    group (``candia_spark.telemetry``), the classes compiled during its
    runs, and its Spark jobs per run, read from the status tracker (no
    job). Its minimum time goes into ``timings``; an error goes into
    ``errors`` and never stops the bench (round 3 lost ALL perf evidence
    to a single AnalysisException)."""
    from candia_spark import telemetry
    from candia_spark.session import codegen_compiles

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    compiles = codegen_compiles(spark)
    entry: dict = {}
    runs = max(1, runs)
    for _run in range(runs):
        t0 = time.perf_counter()
        try:
            # Force full evaluation of every output column, not just a
            # count.
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        entry.update(telemetry.pop(name))
    entry["codegen"] = {"compiles": codegen_compiles(spark) - compiles}
    entry["jobs"] = len(sc.statusTracker().getJobIdsForGroup(name)) / runs
    return entry


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--runs",
        type=int,
        default=1,
        help="time each query this many times, report the per-query minimum",
    )
    cli = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from candia_spark.session import get_spark
    from candia_spark.plans.queries import QUERY_REGISTRY

    spark = get_spark(app_name="candia_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERY_REGISTRY]
    extra = [n for n in QUERY_REGISTRY if n not in names]
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    # Warm the JVM/codegen once per execution family so the measured runs
    # reflect steady-state execution, not session startup: one relational
    # query; a tiny higher-order-function job (the dedup/similarity family
    # JITs array/lambda expressions the relational path never touches); and
    # a tiny mapInPandas job (forks the Python worker pool and initializes
    # the Arrow serialization path, which otherwise lands on whichever
    # pandas-UDF query runs first — measured ~2.5s attributed to q36).
    try:
        QUERY_REGISTRY[names[0]].spark(spark, sf_dir).count()
    except Exception:
        pass
    try:
        from pyspark.sql import functions as F

        from candia_spark.operators.dedup import word_ngram_hashes
        from candia_spark.operators.multimodal import extract_features
        from candia_spark.tables import load_table

        docs200 = load_table(spark, sf_dir, "documents").limit(200)
        word_ngram_hashes(docs200).count()
        extract_features(
            docs200.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        ).count()
        # the clustering family JITs its own shapes (nested decimal HOF
        # lambdas, collect_list-of-struct broadcasts, localCheckpoint) —
        # a 64-row one-iteration pass compiles them all
        from candia_spark.operators.clustering import kmeans_assign

        kmeans_assign(
            load_table(spark, sf_dir, "embeddings").limit(64), k=2, iters=1
        ).count()
        # the graph family (q73/q77) JITs its own shapes — keyed join +
        # keyed agg + the bigint div expression; measured ~8s of codegen
        # landing on the first authority query without this (the driver
        # bench is single-run, so warmup is the only protection)
        from candia_spark.operators.graph import authority_scores

        warm_edges = spark.range(200).selectExpr(
            "id as src", "(id + 1) % 200 as dst"
        )
        authority_scores(
            warm_edges,
            spark.range(200).selectExpr("id as doc_id"),
            iters=1,
        ).count()
        # the CC family (q43/q50/q87/q88-class star contraction) JITs
        # its own iterative min-agg + self-join shapes; without this the
        # first collapsing query in a single-run driver bench carries
        # ~2s of codegen (verdict r9 next #8 — q43 swung 1.5->3.6s with
        # cc_rounds=0 and no code change on its path)
        from candia_spark.operators.dedup import connected_components

        connected_components(
            spark.range(200).selectExpr(
                "id as id_a", "(id + 1) % 200 as id_b"
            )
        ).count()
        # first-touch the CORPUS-scale shuffle path once (verdict r10
        # next #7): the residual ±2-4s single-run scatter on the
        # graph/dedup families is the first big shuffle's FILE creation
        # (spill dirs, OS page cache for documents.parquet, shuffle
        # write buffers), which the tiny synthetic warmups above never
        # touch. One full-corpus shingle census pays that cost outside
        # the timed window; per-query timings then start from a warm
        # shuffle layer like every later query already does.
        word_ngram_hashes(
            load_table(spark, sf_dir, "documents")
        ).groupBy("shingle").count().write.format("noop").mode(
            "overwrite"
        ).save()
        # r12 families: the exact-substring rewrite (gram explode +
        # anti join + ordered rebuild), the pHash band join
        # (xor/bit_count + checkpoint-cut Arrow hash), and the
        # multiclass dense-model algebra each JIT shapes no earlier
        # warmup touches
        from candia_spark.operators.curation import (
            multiclass_classifier_predict,
            multiclass_classifier_weights,
        )
        from candia_spark.operators.dedup import exact_substring_dedup
        from candia_spark.operators.multimodal import phash_near_dups

        exact_substring_dedup(docs200, k=6).count()
        phash_near_dups(
            docs200.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        ).count()
        wl = docs200.select(
            "doc_id", F.lit("a").alias("label"), "text"
        )
        multiclass_classifier_predict(
            wl, multiclass_classifier_weights(wl, label_col="label")
        ).count()
    except Exception:
        pass

    telemetry_by_query: dict[str, dict] = {}

    for name in names + extra:
        telemetry_by_query[short(name)] = time_query(
            spark, name, QUERY_REGISTRY[name].spark, sf_dir, cli.runs,
            timings, errors,
        )

    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None

    # Stop Spark BEFORE emitting the JSON so the one JSON line is the
    # very last stdout the harness produces — nothing (shutdown chatter
    # included) can trail it and trip the driver's tail parse (the r5
    # `parsed: null` hygiene item). The telemetry line goes to stderr
    # first, so the result line stays last even when both are merged; it
    # starts with a newline because Spark's console progress bar ends its
    # last row with a carriage return, not a newline.
    spark.stop()
    sys.stdout.flush()
    print(
        "\n" + json.dumps({"telemetry": telemetry_by_query}),
        file=sys.stderr,
        flush=True,
    )
    print(result_line(timings, errors, sf, cli.runs), flush=True)
    # Exit 0 as long as at least one query produced a timing; rc=1 only
    # when the harness measured nothing at all.
    return 0 if timings else 1


if __name__ == "__main__":
    sys.exit(main())
