"""Integer-exact authority iteration (operators.graph). Cross-engine
parity for the full 3-iteration trajectory over the real near-dup graph
is q73's oracle gate; these pin the update rule and the fixture-free
semantics on hand graphs."""

from __future__ import annotations

import pytest

from candia_spark.operators.graph import authority_scores

B = ((20 - 17) * 10**12) // 20  # 150_000_000_000 per-node base mass
INIT = 10**12


def _graph(spark, pairs, node_ids):
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src bigint, dst bigint",
    )
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id bigint")
    return edges, nodes


def test_authority_update_rule_by_hand(spark):
    # triangle {0,1,2} (2-regular) + isolated node 9
    edges, nodes = _graph(spark, [(0, 1), (1, 2), (0, 2)], [0, 1, 2, 9])
    out = {
        r["doc_id"]: r
        for r in authority_scores(edges, nodes, iters=1).collect()
    }
    # 2-regular: each node receives 2 * (17*INIT)//(20*2) = 850e9, plus
    # base 150e9 -> the initial mass exactly (regular graphs are fixed
    # points of the damped update up to flooring)
    per_edge = (17 * INIT) // (20 * 2)
    for v in (0, 1, 2):
        assert out[v]["score"] == B + 2 * per_edge == INIT
        assert out[v]["degree"] == 2
    # isolated node: no in-mass, base only
    assert out[9]["score"] == B and out[9]["degree"] == 0


def test_authority_star_concentrates_and_iterates(spark):
    # star: center 0 with leaves 1..4
    edges, nodes = _graph(spark, [(0, i) for i in (1, 2, 3, 4)], [0, 1, 2, 3, 4])
    one = {
        r["doc_id"]: r["score"]
        for r in authority_scores(edges, nodes, iters=1).collect()
    }
    # center receives 4 whole leaf-masses (each leaf has deg 1), leaves
    # receive 1/4 of the center's
    assert one[0] == B + 4 * ((17 * INIT) // (20 * 1))
    assert one[1] == B + (17 * INIT) // (20 * 4)
    assert one[0] > INIT > one[1]
    # second iteration recomputes from the it-1 scores (not from init):
    two = {
        r["doc_id"]: r["score"]
        for r in authority_scores(edges, nodes, iters=2).collect()
    }
    assert two[0] == B + 4 * ((17 * one[1]) // (20 * 1))
    assert two[1] == B + (17 * one[0]) // (20 * 4)
    # determinism
    again = {
        r["doc_id"]: r["score"]
        for r in authority_scores(edges, nodes, iters=2).collect()
    }
    assert again == two


def test_authority_validation(spark):
    edges, nodes = _graph(spark, [(0, 1)], [0, 1])
    with pytest.raises(ValueError, match="iters"):
        authority_scores(edges, nodes, iters=0)
    with pytest.raises(ValueError, match="damping"):
        authority_scores(edges, nodes, damping=(20, 17))
    with pytest.raises(ValueError, match="init"):
        authority_scores(edges, nodes, init=0)


def test_authority_plan_shape(spark):
    """Scale contract: one keyed join + one keyed aggregation per
    iteration, no cartesian product, no corpus-wide window — the final
    (post-materialization) iteration's plan shows exactly the
    join/agg pair plus the output degree join."""
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(50)], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(50)], "doc_id bigint")
    out = authority_scores(edges, nodes, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # the contribution sum is a partial-aggregated hash aggregate
    assert "partial" in plan.lower()


def test_weighted_authority_by_hand(spark):
    """weight_col: mass splits by edge weight, not edge count — a 3x
    weight edge gets 3/4 of the source's damped mass when the other
    out-edge weighs 1."""
    edges = spark.createDataFrame(
        [(0, 1, 3), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
        "src bigint, dst bigint, w bigint",
    )
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2)], "doc_id bigint")
    out = {
        r["doc_id"]: r
        for r in authority_scores(
            edges, nodes, iters=1, weight_col="w"
        ).collect()
    }
    assert out[1]["score"] == B + (17 * INIT * 3) // (20 * 4)
    assert out[2]["score"] == B + (17 * INIT * 1) // (20 * 4)
    assert out[0]["score"] == B + 2 * ((17 * INIT * 1) // (20 * 1))
    # degree stays the edge COUNT in weighted mode
    assert out[0]["degree"] == 2 and out[1]["degree"] == 1
    # unweighted result on the same graph differs (1 and 2 would tie)
    unw = {
        r["doc_id"]: r["score"]
        for r in authority_scores(edges, nodes, iters=1).collect()
    }
    assert unw[1] == unw[2] and out[1]["score"] != out[2]["score"]


def test_authority_overflow_guard_star_graph(spark):
    """Advice r7 #1: a boilerplate-hub star (~7e5 degree-1 in-neighbors)
    at the defaults concentrates ~6e17 of mass on the hub after one
    iteration, so iteration 2's bigint product 17 * score would wrap
    silently under non-ANSI arithmetic. The guard must raise loudly
    instead (the static bound fails at N > ~5.4e5, the dynamic check
    fires before the wrapping iteration)."""
    from pyspark.sql import functions as F

    n_leaves = 700_000
    edges = spark.range(1, n_leaves + 1).select(
        F.col("id").alias("src"), F.lit(0).cast("bigint").alias("dst")
    )
    nodes = spark.range(n_leaves + 1).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="overflow margin"):
        authority_scores(edges, nodes, iters=2).collect()


def test_authority_overflow_guard_rejects_huge_init_upfront(spark):
    """N * init >= 2^63 means even the in-mass SUM can wrap — refused
    before any iteration runs."""
    edges, nodes = _graph(spark, [(0, 1)], [0, 1])
    with pytest.raises(ValueError, match="total mass"):
        authority_scores(edges, nodes, iters=1, init=2**62)


def test_authority_dynamic_guard_allows_safe_trajectory(spark):
    """A graph whose STATIC bound fails (num * N * init * maxw >= 2^63)
    but whose actual trajectory stays bounded must still run under the
    per-iteration dynamic check and produce the exact unguarded scores:
    a 1000-cycle at init=1e15 never concentrates mass (each score stays
    ~init), so the dynamic margin holds every iteration."""
    from pyspark.sql import functions as F

    from candia_spark import telemetry

    n = 1000
    init = 10**15
    assert 17 * n * init >= 2**63  # static bound genuinely fails
    edges = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    out = authority_scores(edges, nodes, iters=2, init=init)
    rows = {r["doc_id"]: r["score"] for r in out.collect()}
    rec = telemetry.pop()["authority"]
    assert rec["static_safe"] is False
    assert rec["dynamic_checks"] == 1  # iters - 1
    assert rec["n_nodes"] == n
    assert rec["n_edges"] == n
    # cycle is 1-regular: damped update is a fixed point up to flooring,
    # every score stays exactly init (17*init divisible by 20? 17*1e15 /
    # 20 is exact) -> base + (17*init)//20 == init
    base = (3 * init) // 20
    assert all(s == base + (17 * init) // 20 == init for s in rows.values())


def test_weighted_authority_rejects_nonpositive_weights(spark):
    """A zero/negative weight would zero some source's total out-weight
    and the div-by-zero term silently nulls under Spark's non-ANSI
    arithmetic while ANSI engines error — so the operator raises loudly
    instead (the score_percentiles raise_error doctrine)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 0, 0)], "src bigint, dst bigint, w bigint"
    )
    nodes = spark.createDataFrame([(0,), (1,)], "doc_id bigint")
    with pytest.raises((SparkRuntimeException, Py4JJavaError, Exception), match="positive"):
        authority_scores(edges, nodes, iters=1, weight_col="w").collect()


def test_weighted_authority_wsum_divisor_guard(spark):
    """Advice r8 #1 (denominator side): a high-degree hub with large
    integer weights pushes the per-edge divisor product den * __wsum
    past 2^63 even when each individual weight is a valid bigint — the
    non-ANSI multiply would wrap silently into wrong divisors, so the
    guard must raise with a rescale margin instead."""
    from pyspark.sql import functions as F

    # one source, 10 out-edges of weight 5e16: wsum = 5e17,
    # den * wsum = 1e19 >= 2^63 (~9.22e18); n_edges * maxw = 5e17 < 2^63
    # so the SUM itself is trustworthy and the divisor check fires
    w = 5 * 10**16
    edges = spark.range(1, 11).select(
        F.lit(0).cast("bigint").alias("src"),
        F.col("id").alias("dst"),
        F.lit(w).cast("bigint").alias("w"),
    )
    nodes = spark.range(11).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="divisor product"):
        authority_scores(edges, nodes, iters=1, weight_col="w")


def test_weighted_authority_sum_wrap_guard(spark):
    """Advice r8 #1 (aggregate side): when n_edges * maxw >= 2^63 the
    per-source out-weight SUM itself can wrap before any guard observes
    it — a wrapped sum can masquerade as small — so the exact Python
    bound must refuse up front."""
    from pyspark.sql import functions as F

    w = 2**62
    edges = spark.range(1, 4).select(
        F.lit(0).cast("bigint").alias("src"),
        F.col("id").alias("dst"),
        F.lit(w).cast("bigint").alias("w"),
    )
    nodes = spark.range(4).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="SUM aggregate could wrap"):
        authority_scores(edges, nodes, iters=1, weight_col="w")


def test_authority_fallback_guard_costs_zero_extra_jobs(spark):
    """Verdict r8 wrong #2: in the fallback (dynamic-guard) regime the
    per-iteration max(score) rides the iteration's own localCheckpoint
    job as an Observation metric — so an iteration must cost exactly as
    many Spark jobs guarded as unguarded (AQE splits one iteration into
    several jobs, but the guard must add ZERO on top). Measured by
    job-group deltas between iters=2 and iters=4 runs of the same cycle
    graph in both regimes: init=1e15 fails the static bound (dynamic
    checks run every iteration), init=1e12 passes it (no checks)."""
    from pyspark.sql import functions as F

    from candia_spark import telemetry

    sc = spark.sparkContext
    n = 1000
    fallback_init = 10**15
    assert 17 * n * fallback_init >= 2**63  # static bound genuinely fails
    static_init = 10**12
    assert 17 * n * static_init < 2**63  # and here it holds
    edges = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))

    def jobs_for(iters: int, init: int, tag: str) -> int:
        sc.setJobGroup(tag, tag)
        try:
            authority_scores(edges, nodes, iters=iters, init=init).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    js2 = jobs_for(2, static_init, "auth_js2")
    js4 = jobs_for(4, static_init, "auth_js4")
    assert telemetry.pop("auth_js4")["authority"]["dynamic_checks"] == 0
    jf2 = jobs_for(2, fallback_init, "auth_jf2")
    jf4 = jobs_for(4, fallback_init, "auth_jf4")
    assert telemetry.pop("auth_jf4")["authority"]["dynamic_checks"] == 3
    assert (jf4 - jf2) == (js4 - js2)  # guard rides for free


def test_authority_upfront_margins_fire_no_scalar_agg_actions(spark, monkeypatch):
    """Verdict r9 wrong #1 / next #1: the upfront overflow-margin stats
    (edge count, max weight, max out-weight sum, node count) must ride
    the e/ed/n materialization passes as Observation metrics in eager
    mode — NOT separate `.agg().collect()` / `.count()` driver jobs.
    Pinned at the API level: no DataFrame.collect or DataFrame.count may
    run inside the call (weighted + seeded, the maximal-guard path).
    The result is collected only after the patch is lifted. NB (r11):
    patch the CONCRETE DataFrame class — the abstract pyspark.sql
    .DataFrame parent's collect/count are overridden by the classic
    subclass, so the original parent-class patch was vacuously green;
    the liveness assertion at the end proves the spy observes real
    calls."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 2), (0, 2, 5), (2, 0, 1)],
        "src bigint, dst bigint, w bigint",
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "doc_id bigint")
    seeds = spark.createDataFrame([(0,)], "doc_id bigint")
    cls = type(edges)
    calls = {"collect": 0, "count": 0}
    real_collect, real_count = cls.collect, cls.count

    def spy_collect(self):
        calls["collect"] += 1
        return real_collect(self)

    def spy_count(self):
        calls["count"] += 1
        return real_count(self)

    monkeypatch.setattr(cls, "collect", spy_collect)
    monkeypatch.setattr(cls, "count", spy_count)
    out = authority_scores(
        edges, nodes, iters=2, weight_col="w", seeds=seeds
    )
    assert calls == {"collect": 0, "count": 0}
    assert nodes.count() == 4  # spy liveness: a real count IS observed
    assert calls == {"collect": 0, "count": 1}
    monkeypatch.undo()
    assert out.count() == 4  # and the guarded run still produces rows


def test_personalized_authority_seed_restart(spark):
    """Seeded mode (q82): initial AND restart mass land only on seeds.
    Triangle {0,1,2} + isolated 9, seeds={0}, one iteration, by hand:
    S0 = (1e12, 0, 0, 0); node 0 sends (17e12)//(20*2) = 425e9 to each
    neighbor; S1 = (base=150e9, 425e9, 425e9, 0) — the non-seed
    isolated node scores exactly 0, not base."""
    edges, nodes = _graph(spark, [(0, 1), (1, 2), (0, 2)], [0, 1, 2, 9])
    seeds = spark.createDataFrame([(0,)], "doc_id bigint")
    out = {
        r["doc_id"]: r["score"]
        for r in authority_scores(edges, nodes, iters=1, seeds=seeds).collect()
    }
    assert out[0] == (3 * INIT) // 20  # 150e9 restart, no in-mass
    assert out[1] == out[2] == (17 * INIT) // 40  # 425e9
    assert out[9] == 0
