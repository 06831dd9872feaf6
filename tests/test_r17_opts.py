"""Round-17 optimization equivalence/contract pins.

- verdict r17 next #1: the pair engines' probe-side parallelism pin is
  bounded by DATA when row statistics are in hand (guide §2.2), never
  below the core count, and scales UP with census join mass at corpus
  scale.
- verdict r17 next #3: authority_scores' edge table switches to a
  src-keyed, sorted persist() in the non-broadcast regime (guide §2.4
  exchange-free iteration) — the per-iteration join must NOT re-exchange
  the edge side — while the broadcast regime keeps the historical
  zero-collect/count contract (test_graph pins that side). Results are
  identical across regimes.
- verdict r17 next #4: containment_candidate_pairs' routing gate rides
  the row count the index's own cut already observed — no count()
  action when the index and its count come from the counted builder.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from candia_spark.tables import load_table


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


def test_probe_parallelism_data_bounds(spark):
    """The 2x-cores pin is the FLOOR (the measured-winning local value —
    the probe-rows down-bound was A/B-refuted this round, q81 15.9 s vs
    5.4 s); the census join mass raises par at corpus scale, capped."""
    from candia_spark.operators import dedup

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(1)
    # no statistics: the historical 2x-cores pin
    assert dedup._probe_parallelism(df) == 2 * cores
    # small expansions never shrink the pin below 2x cores
    assert dedup._probe_parallelism(df, expanded_rows=0) == 2 * cores
    assert dedup._probe_parallelism(df, expanded_rows=10**6) == 2 * cores
    # corpus-scale expansion bounds par UP past the cores pin
    big = (
        10
        * 2
        * cores
        * dedup._PROBE_TARGET_EXPANDED_BYTES_PER_TASK
        // dedup._PROBE_EXPANDED_ROW_BYTES
    )
    assert dedup._probe_parallelism(df, expanded_rows=big) > 2 * cores
    assert (
        dedup._probe_parallelism(df, expanded_rows=10**18)
        == dedup._PROBE_MAX_PARTITIONS
    )


def test_containment_gate_rides_carried_rowcount(spark, sf_smoke, monkeypatch):
    """The routing gate must read the index row count observed on the
    index's own cut instead of paying a count() job (verdict r16 next
    #4) — and a caller-supplied index routes identically after one
    explicit count."""
    from candia_spark.operators import dedup

    docs = load_table(spark, sf_smoke, "documents").limit(300)
    idx, idx_rows = dedup._counted_shingle_index(docs, 2)
    assert idx_rows == idx.count()

    cls = type(idx)
    calls = {"count": 0}
    real_count = cls.count

    def spy_count(self):
        calls["count"] += 1
        return real_count(self)

    monkeypatch.setattr(cls, "count", spy_count)
    fast = dedup._containment_candidates(idx, idx_rows, 16, "doc_id", 4)
    assert calls == {"count": 0}  # routing paid no action
    slow = dedup.containment_candidate_pairs(
        docs, num_hashes=16, index=idx, min_hits=4
    )
    assert calls == {"count": 1}  # the supplied index is counted once
    monkeypatch.undo()
    fast_rows = _rows(fast, ["id_a", "id_b"])
    assert _rows(slow, ["id_a", "id_b"]) == fast_rows
    assert fast_rows, "fixture must produce candidates"


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _spy_score_cut_plans(monkeypatch) -> list[str]:
    """Record the executed plan of every per-iteration score cut: the
    iteration join (scores ⋈ edges) lives in the plan of each round."""
    from candia_spark.operators import materialize

    plans: list[str] = []
    real_cut = materialize.cut

    def spy(df, *metrics):
        if set(df.columns) == {"doc_id", "score"}:
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_cut(df, *metrics)

    monkeypatch.setattr(materialize, "cut", spy)
    return plans


def test_authority_exchange_free_regime_plan_and_equivalence(
    spark, monkeypatch
):
    """Under a disabled broadcast threshold (the at-scale regime) the
    edge table must come back from a persisted, src-partitioned relation
    — the per-iteration join reads InMemoryTableScan on the edge side
    and re-exchanges ONLY the score side — and the scores must be
    bit-identical to the broadcast regime's. This is the renegotiated
    r16 change-#6 contract: the zero-collect/count pin applies to the
    BROADCAST regime (test_authority_upfront_margins_fire_no_scalar_agg_
    actions); the exchange-free regime is allowed its one
    cache-materializing count per call."""
    from candia_spark.operators.graph import authority_scores

    edges = spark.createDataFrame(
        [(i % 50, (i * 7 + 1) % 50) for i in range(300)],
        "src bigint, dst bigint",
    ).distinct()
    nodes = spark.range(50).selectExpr("id as doc_id")
    spark.catalog.clearCache()  # so the emptiness checks see only this call
    iter_plans = _spy_score_cut_plans(monkeypatch)

    base = _rows(
        authority_scores(edges, nodes, iters=2),
        ["doc_id", "degree", "score"],
    )
    assert iter_plans and all(
        "InMemoryTableScan" not in p for p in iter_plans
    ), "broadcast regime must keep the localCheckpoint edge table"
    assert _cache_is_empty(spark)

    iter_plans.clear()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = authority_scores(edges, nodes, iters=2)
        got = _rows(out, ["doc_id", "degree", "score"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert iter_plans and all(
        "InMemoryTableScan" in p for p in iter_plans
    ), "\n---\n".join(iter_plans)
    assert _cache_is_empty(spark)  # the src-partitioned edge cache is freed
    assert got == base
    assert base, "fixture must produce scores"


def test_authority_unreadable_conf_routes_exchange_free(spark, monkeypatch):
    """A broadcast threshold the conf cannot return routes exactly like an
    unparsable one: exchange-free (the regime that is safe at any size),
    with the shuffle-partition count falling back to the default
    parallelism when it cannot be read either."""
    from pyspark.sql.conf import RuntimeConfig

    from candia_spark.operators.graph import authority_scores

    edges = spark.createDataFrame(
        [(i % 20, (i * 3 + 1) % 20) for i in range(60)],
        "src bigint, dst bigint",
    ).distinct()
    nodes = spark.range(20).selectExpr("id as doc_id")
    base = _rows(authority_scores(edges, nodes, iters=2), ["doc_id", "score"])

    real_get = RuntimeConfig.get

    def failing_get(self, key, *args, **kwargs):
        if key in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        ):
            raise RuntimeError(f"unreadable {key}")
        return real_get(self, key, *args, **kwargs)

    iter_plans = _spy_score_cut_plans(monkeypatch)
    monkeypatch.setattr(RuntimeConfig, "get", failing_get)
    out = authority_scores(edges, nodes, iters=2)
    monkeypatch.undo()
    assert iter_plans and all(
        "InMemoryTableScan" in p for p in iter_plans
    ), "\n---\n".join(iter_plans)
    assert _rows(out, ["doc_id", "score"]) == base
