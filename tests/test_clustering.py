"""Distributed Lloyd's k-means (operators.clustering). Query-level
cross-engine parity for the full 3-iteration trajectory is q57's oracle
gate; these pin the semantics (convergence on separated data, determinism,
tie rules) and the scale-critical plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from candia_spark.operators.clustering import kmeans_assign


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kmeans_recovers_planted_clusters(spark):
    # two tight blobs; ids 0 and 1 land in different blobs so the
    # smallest-id seeding starts one centroid in each
    blob_a = [(0, [1.0, 0.0]), (2, [0.9, 0.1]), (4, [1.1, -0.1]), (6, [0.95, 0.0])]
    blob_b = [(1, [-1.0, 0.0]), (3, [-0.9, 0.2]), (5, [-1.1, 0.1])]
    out = {
        r["vec_id"]: r
        for r in kmeans_assign(_vecs(spark, blob_a + blob_b), k=2, iters=3).collect()
    }
    a_clusters = {out[i]["cluster"] for i, _ in blob_a}
    b_clusters = {out[i]["cluster"] for i, _ in blob_b}
    assert a_clusters == {0} and b_clusters == {1}
    assert out[0]["cluster_size"] == 4 and out[1]["cluster_size"] == 3


def test_kmeans_deterministic_and_total(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11) / 11 for j in range(4)]) for i in range(20)]
    df = _vecs(spark, rows)
    r1 = sorted(map(tuple, kmeans_assign(df, k=3, iters=2).collect()))
    r2 = sorted(map(tuple, kmeans_assign(df, k=3, iters=2).collect()))
    assert r1 == r2
    # every vector is assigned exactly once
    assert len(r1) == 20 and len({t[0] for t in r1}) == 20
    with pytest.raises(ValueError, match="positive"):
        kmeans_assign(df, k=0)


def test_kmeans_plan_shape(spark):
    """Scale contract: assignment is a PURE MAP — the centroid set rides in
    as one broadcast array row (a nested-loop join against ONE row, never a
    CartesianProduct of two big sides), the argmin evaluates inside each
    corpus row (no per-vector exchange), and re-centering is the only hash
    shuffle, keyed (cluster, pos) with map-side partial aggregation."""
    from candia_spark.operators.clustering import _assignments

    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(30)]
    # materialize=False: inspect the real lazy plan, not the
    # post-checkpoint scan the default mode (rightly) reduces it to
    one_pass = _plan_of(
        _assignments(
            _vecs(spark, rows), 2, 1, 1000, "embedding", "vec_id",
            materialize=False,
        )
    )
    assert "Python" not in one_pass
    assert "CartesianProduct" not in one_pass
    assert "BroadcastNestedLoopJoin" in one_pass
    # the assignment map shuffles NOTHING: zero hash exchanges in a
    # re-centering-free pass (the seed limit is a single-partition
    # collapse of k rows, not a hashpartitioning)
    assert one_pass.count("Exchange hashpartitioning") == 0
    # one re-centering adds exactly its two k-bounded aggregation
    # exchanges: (cluster, pos) partial sums, then cluster re-assembly
    two_pass = _plan_of(
        _assignments(
            _vecs(spark, rows), 2, 2, 1000, "embedding", "vec_id",
            materialize=False,
        )
    )
    assert "Python" not in two_pass
    assert two_pass.count("Exchange hashpartitioning") == 2


def test_semantic_dedup_finds_planted_neardups(spark):
    from candia_spark.operators.clustering import _in_cluster_pairs

    base = [0.6, 0.8, 0.0, 0.0]
    near = [0.61, 0.79, 0.01, 0.0]        # cosine ~0.9999 with base
    far = [-0.8, 0.6, 0.0, 0.0]           # orthogonal-ish
    rows = [(0, base), (1, far), (10, near), (11, [0.0, 0.0, 1.0, 0.0])]
    out = (
        _in_cluster_pairs(_vecs(spark, rows), 2, 2, 1000, "embedding", "vec_id")
        .filter(F.col("cos") >= 0.95)
        .collect()
    )
    assert len(out) == 1
    pair = out[0]
    assert (pair["id_a"], pair["id_b"]) == (0, 10)
    assert pair["cos"] > 0.99


def test_in_cluster_pairs_shuffle_on_cluster_key_only(spark):
    """Scale contract: the pair join is an equi-join on the cluster key —
    never a corpus-level cartesian — and the whole pair scan is JVM-side."""
    from candia_spark.operators.clustering import cluster_closest_pairs

    rows = [(i, [float(i % 7) / 7, float(i % 5) / 5]) for i in range(40)]
    plan = _plan_of(cluster_closest_pairs(_vecs(spark, rows), k=3, iters=2))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the deliberate k-row centroid
    # broadcasts from kmeans_assign; the pair join itself must be hash/SMJ
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


@pytest.mark.slow
def test_kmeans_hierarchical_recovers_nested_structure(spark):
    from candia_spark.operators.clustering import kmeans_hierarchical

    # two far-apart super-blobs, each with two tight sub-blobs; ids 0/1
    # land in different super-blobs (phase-1 seeding), and within each
    # super-blob the two smallest ids land in different sub-blobs
    g = lambda cx, cy, eps: [cx + eps, cy - eps]
    rows = [
        # super A around (10, 0): sub A1 at (10, 1), sub A2 at (10, -1)
        (0, g(10.0, 1.0, 0.01)), (2, g(10.0, -1.0, 0.02)),
        (4, g(10.0, 1.0, 0.03)), (6, g(10.0, -1.0, 0.01)),
        (8, g(10.0, 1.0, 0.02)),
        # super B around (-10, 0): sub B1 at (-10, 1), sub B2 at (-10, -1)
        (1, g(-10.0, 1.0, 0.01)), (3, g(-10.0, -1.0, 0.02)),
        (5, g(-10.0, 1.0, 0.03)), (7, g(-10.0, -1.0, 0.01)),
    ]
    out = {
        r["vec_id"]: r
        for r in kmeans_hierarchical(
            _vecs(spark, rows), k1=2, k2=2, iters1=3, iters2=3, scale=100
        ).collect()
    }
    assert {out[i]["super_cluster"] for i in (0, 2, 4, 6, 8)} == {0}
    assert {out[i]["super_cluster"] for i in (1, 3, 5, 7)} == {1}
    # within super A, the (10, 1) members share a leaf distinct from (10, -1)
    assert out[0]["cluster"] == out[4]["cluster"] == out[8]["cluster"]
    assert out[2]["cluster"] == out[6]["cluster"] != out[0]["cluster"]
    # global leaf ids are super * k2 + sub
    assert all(out[i]["cluster"] // 2 == out[i]["super_cluster"] for i in out)
    assert out[0]["cluster_size"] == 3 and out[2]["cluster_size"] == 2
    with pytest.raises(ValueError, match="positive"):
        kmeans_hierarchical(_vecs(spark, rows), k2=0)


@pytest.mark.slow
def test_kmeans_hierarchical_matches_flat_per_super(spark):
    """Phase 2 restricted to one super-cluster must equal flat k-means on
    that super-cluster's members (same seeds, same trajectory) — the
    decomposition property that makes the hierarchy a faithful refinement."""
    from candia_spark.operators.clustering import kmeans_assign, kmeans_hierarchical

    rows = [(i, [float((i * 13 + j * 5) % 17) / 17 for j in range(4)]) for i in range(24)]
    df = _vecs(spark, rows)
    hier = kmeans_hierarchical(df, k1=1, k2=3, iters1=1, iters2=2, scale=1000).collect()
    # k1=1, iters1=1 puts every vector in super 0, so phase 2 IS flat
    # k-means(k=3, iters=2) over the whole set
    flat = {r["vec_id"]: r["cluster"] for r in kmeans_assign(df, k=3, iters=2).collect()}
    assert {r["vec_id"]: r["cluster"] for r in hier} == flat


def test_semantic_dedup_with_hierarchical_clusters(spark):
    """The pair scan composes with any external bucketing: hierarchical
    leaves passed via ``clusters`` find the same planted near-dup the flat
    path finds (the pair shares a leaf in both decompositions)."""
    from candia_spark.operators.clustering import (
        _in_cluster_pairs,
        kmeans_hierarchical,
    )

    base = [0.6, 0.8, 0.0, 0.0]
    near = [0.61, 0.79, 0.01, 0.0]
    rows = [
        (0, base), (1, [-0.8, 0.6, 0.0, 0.0]),
        (10, near), (11, [0.0, 0.0, 1.0, 0.0]),
        (12, [0.0, 0.0, 0.99, 0.01]),
    ]
    df = _vecs(spark, rows)
    hier = kmeans_hierarchical(df, k1=2, k2=2, iters1=2, iters2=2)
    out = (
        _in_cluster_pairs(df, 8, 3, 1000, "embedding", "vec_id", clusters=hier)
        .filter(F.col("cos") >= 0.95)
        .collect()
    )
    # both planted pairs: (0,10) cos~0.9999 and (11,12) cos~0.99995
    assert sorted((r["id_a"], r["id_b"]) for r in out) == [(0, 10), (11, 12)]


def test_kmeans_k_exceeding_corpus_degrades_gracefully(spark):
    """k > N: only N seeds exist, so at most N clusters — no error, every
    vector still assigned exactly once."""
    rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.9, 0.1])]
    out = kmeans_assign(_vecs(spark, rows), k=10, iters=2).collect()
    assert len(out) == 3
    assert len({r["vec_id"] for r in out}) == 3
    assert sum(r["cluster_size"] for r in {o["cluster"]: o for o in out}.values()) == 3


def test_kmeans_hierarchical_plan_shape(spark):
    """Scale contract: phase 2's sub-centroid map joins on the SUPER key
    as a broadcast hash join (k1 rows, each carrying its k2 sub-centroid
    array) — never a corpus-level cartesian — and the whole two-phase
    plan stays JVM-side."""
    from candia_spark.operators.clustering import kmeans_hierarchical

    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(30)]
    plan = _plan_of(kmeans_hierarchical(_vecs(spark, rows), k1=2, k2=2))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_kmeans_partitioning_invariant(spark):
    """The whole trajectory must be a pure function of the data: integer
    centroid sums are order-independent and the argmin is per-row, so
    repartitioning cannot move a single assignment."""
    rows = [(i, [float((i * 11 + j * 7) % 13) / 13 for j in range(3)]) for i in range(30)]
    df = _vecs(spark, rows)
    base = sorted(map(tuple, kmeans_assign(df, k=4, iters=3).collect()))
    reparted = sorted(
        map(tuple, kmeans_assign(df.repartition(7), k=4, iters=3).collect())
    )
    assert base == reparted


def test_kmeans_overflow_guard_fires_before_silent_wrap(spark):
    """The decimal-exact distance margins are CHECKED, not just documented
    (ADVICE r5): an absurd quantization scale pushes the worst per-term
    |n*x - s| past the decimal(18,0) cast limit, and the re-centering
    guard raises with the remediation pointer instead of letting Spark's
    non-ANSI arithmetic wrap silently and misassign vectors."""
    rows = [
        (0, [1.0, 2.0]),
        (1, [9.0, 8.0]),
        (2, [1.1, 2.1]),
        (3, [8.9, 8.2]),
        (4, [0.9, 1.9]),
        (5, [9.1, 7.8]),
    ]
    df = _vecs(spark, rows)
    with pytest.raises(ValueError, match="overflow margin"):
        kmeans_assign(df, k=2, iters=2, scale=10**17).collect()
    # the same corpus at a sane scale is fine — the guard is dormant in
    # the realistic regime (headroom ~1e13 members at scale=1000)
    assert kmeans_assign(df, k=2, iters=2, scale=1000).count() == 6


@pytest.mark.slow
def test_farthest_point_seeding_recovers_what_min_id_misses(spark):
    """Seeding-quality option (verdict r5 #6): when the k smallest ids
    are near-identical vectors, min-id seeding collapses — every row ties
    toward seed 0, the other cluster empties out and drops from the
    centroid table, and the planted structure is never recovered.
    Deterministic farthest-point traversal seeds across the data diameter
    and recovers both blobs, in the same integer-exact algebra (and q57's
    min-id default is untouched)."""
    from candia_spark.operators.clustering import kmeans_assign

    blob_a = [(i, [1.0, 0.0]) for i in range(4)]  # exactly identical
    blob_b = [(10 + i, [-1.0 - 0.001 * i, 0.05]) for i in range(4)]
    df = _vecs(spark, blob_a + blob_b)

    collapsed = kmeans_assign(df, k=2, iters=3).collect()
    assert len({r["cluster"] for r in collapsed}) == 1  # min-id collapse

    out = {
        r["vec_id"]: r
        for r in kmeans_assign(df, k=2, iters=3, seeding="farthest").collect()
    }
    a_clusters = {out[i]["cluster"] for i, _ in blob_a}
    b_clusters = {out[i]["cluster"] for i, _ in blob_b}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    assert out[0]["cluster_size"] == 4 and out[10]["cluster_size"] == 4

    # deterministic: an identical second run returns identical rows
    r1 = sorted(map(tuple, kmeans_assign(df, k=2, iters=3, seeding="farthest").collect()))
    r2 = sorted(map(tuple, kmeans_assign(df, k=2, iters=3, seeding="farthest").collect()))
    assert r1 == r2

    with pytest.raises(ValueError, match="seeding"):
        kmeans_assign(df, k=2, seeding="kmeans++")


@pytest.mark.slow
def test_cluster_nearest_neighbors_planted_and_injected(spark):
    """kNN-graph semantics: each vector's in-cluster argmax-cosine
    partner. Planted: two tight pairs inside one blob — each vector picks
    its planted twin, not just any blob-mate; singleton clusters drop
    out. And the clusters= injection (the hierarchical-leaves composition)
    returns identical edges when handed the same bucketing."""
    from candia_spark.operators.clustering import (
        cluster_nearest_neighbors,
        kmeans_assign,
    )

    rows = [
        # blob A: twins (0,2) and (4,6) — within-twin cosine ~1, cross ~0.98
        (0, [1.0, 0.00]), (2, [1.0, 0.001]),
        (4, [0.9, 0.20]), (6, [0.9, 0.201]),
        # blob B: a pair plus one singleton-ish member
        (1, [-1.0, 0.0]), (3, [-1.0, 0.002]), (5, [-0.8, -0.3]),
    ]
    df = _vecs(spark, rows)
    out = {
        r["vec_id"]: r
        for r in cluster_nearest_neighbors(df, k=2, iters=3).collect()
    }
    assert out[0]["neighbor_id"] == 2 and out[2]["neighbor_id"] == 0
    assert out[4]["neighbor_id"] == 6 and out[6]["neighbor_id"] == 4
    assert out[1]["neighbor_id"] == 3 and out[3]["neighbor_id"] == 1
    assert out[5]["neighbor_id"] in (1, 3)  # best of its blob
    assert len(out) == 7  # no singleton clusters here; every vector has an edge

    ext = kmeans_assign(df, k=2, iters=3).select("vec_id", "cluster")
    injected = sorted(
        map(tuple, cluster_nearest_neighbors(df, clusters=ext).collect())
    )
    builtin = sorted(map(tuple, cluster_nearest_neighbors(df, k=2, iters=3).collect()))
    assert injected == builtin


def test_knn_multiprobe_recovers_border_neighbors(spark):
    """The in-cluster-only weakness, demonstrated then fixed: two border
    vectors (6, 7) are each other's true nearest neighbor but k-means
    splits them across the centroid boundary, so probes=1 pairs each with
    a same-cluster blob-mate; probes=2 lets both probe the neighboring
    cluster and the true edge appears. Non-border vectors keep their
    probes=1 edges (multi-probe only ADDS candidate pairs)."""
    from candia_spark.operators.clustering import cluster_nearest_neighbors

    # blobs at angles ~0 and ~90 degrees; 6/7 straddle the ~45-degree
    # boundary 2 degrees apart (cosine 0.9994 — each other's true NN)
    rows = [
        (0, [1.0, 0.0]), (2, [0.99, 0.05]), (4, [0.98, -0.05]),  # blob A
        (1, [0.0, 1.0]), (3, [0.05, 0.99]), (5, [-0.05, 0.98]),  # blob B
        (6, [0.719, 0.695]), (7, [0.695, 0.719]),  # angular border pair
    ]
    df = _vecs(spark, rows)
    one = {
        r["vec_id"]: r["neighbor_id"]
        for r in cluster_nearest_neighbors(df, k=2, iters=3).collect()
    }
    # probes=1: the border pair is invisible (6 and 7 sit in different
    # clusters), so each settles for a same-side blob-mate
    assert one[6] != 7 and one[7] != 6
    two = {
        r["vec_id"]: r["neighbor_id"]
        for r in cluster_nearest_neighbors(df, k=2, iters=3, probes=2).collect()
    }
    assert two[6] == 7 and two[7] == 6  # the true edge appears
    # multi-probe only widens the candidate set: every probes=1 vector
    # still has an edge, and its cosine can only improve
    assert set(one) <= set(two)
    with pytest.raises(ValueError, match="probes"):
        cluster_nearest_neighbors(df, k=2, probes=0)
    ext = df.selectExpr("vec_id", "vec_id % 2 AS cluster")
    with pytest.raises(ValueError, match="external"):
        cluster_nearest_neighbors(df, clusters=ext, probes=2)


def test_kmeans_overflow_guard_fires_up_front(spark):
    """Advice r6 #3: the overflow guard must protect the FIRST assignment
    and iters=1 / materialize=False runs, not only checked re-centerings.
    A scale that puts |x - s| past the decimal(18,0) term cast raises
    before any assignment; a scale whose whole-trajectory bound cannot be
    shown statically raises when materialize=False disables the exact
    per-iteration checks; default runs are untouched."""
    rows = [(i, [0.9, -0.8]) for i in range(6)] + [(9, [0.5, 0.4])]
    df = _vecs(spark, rows)

    # seed-pass hard limit: qmax ~ 0.9e18 -> 2*qmax over the 1e18 bound,
    # fires even with iters=1 (no re-centering ever runs)
    with pytest.raises(ValueError, match="first assignment"):
        kmeans_assign(df, k=2, iters=1, scale=10**18)

    # statically unprovable + materialize=False + iters>=2: the dynamic
    # checks will not run, so the loop refuses to start
    from candia_spark.operators.clustering import _assignments

    with pytest.raises(ValueError, match="materialize"):
        _assignments(
            df, 2, 2, 10**17, "embedding", "vec_id", materialize=False
        ).collect()

    # same scale WITH materialization: allowed to start, and the exact
    # per-re-centering check catches the real margin breach (a 7-member
    # cluster at qmax ~ 9e16 puts the worst term at ~1.2e18)
    with pytest.raises(ValueError, match="margin exceeded"):
        kmeans_assign(df, k=2, iters=2, scale=10**17).count()

    # a statically safe scale completes in every mode, and defaults are
    # untouched
    assert (
        _assignments(
            df, 2, 2, 10**16, "embedding", "vec_id", materialize=False
        ).count()
        == 7
    )
    assert kmeans_assign(df, k=2, iters=1).count() == 7


def test_cluster_purity_majority_and_tiebreak(spark):
    """Purity audit over planted blobs: k=2 recovers the blobs, the
    majority label owns each cluster, and a 1-1 label tie inside a
    cluster breaks to the SMALLEST label."""
    from candia_spark.operators.clustering import cluster_purity

    rows = [
        # blob A (cluster of ids 0,2,4): labels 7,7,9 -> majority 7 (2)
        (0, [1.0, 0.0], 7),
        (2, [0.9, 0.1], 7),
        (4, [1.1, -0.1], 9),
        # blob B (ids 1,3): labels 5,3 -> 1-1 tie, majority = min = 3
        (1, [-1.0, 0.0], 5),
        (3, [-0.9, 0.2], 3),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {
        r["cluster"]: (
            r["cluster_size"], r["majority_label"], r["n_majority"]
        )
        for r in cluster_purity(df, k=2, iters=2).collect()
    }
    assert set(out) == {0, 1}
    sizes = sorted(v[0] for v in out.values())
    assert sizes == [2, 3]
    big = next(v for v in out.values() if v[0] == 3)
    small = next(v for v in out.values() if v[0] == 2)
    assert big == (3, 7, 2)
    assert small == (2, 3, 1)


def test_cluster_purity_string_labels(spark):
    """Verdict r9 wrong #4: string label columns used to silently null
    out in the negated-bigint tie-break and pick a wrong majority. The
    struct-min tie-break keeps the label's own type: majority by count,
    ties to the lexicographically smallest label."""
    from candia_spark.operators.clustering import cluster_purity

    rows = [
        # blob A (ids 0,2,4): labels web,web,books -> majority web (2)
        (0, [1.0, 0.0], "web"),
        (2, [0.9, 0.1], "web"),
        (4, [1.1, -0.1], "books"),
        # blob B (ids 1,3): labels code,arxiv -> 1-1 tie -> min "arxiv"
        (1, [-1.0, 0.0], "code"),
        (3, [-0.9, 0.2], "arxiv"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    )
    out = {
        r["cluster_size"]: (r["majority_label"], r["n_majority"])
        for r in cluster_purity(df, k=2, iters=2).collect()
    }
    assert out[3] == ("web", 2)
    assert out[2] == ("arxiv", 1)

def test_cluster_purity_null_labels_excluded(spark):
    """ADVICE r10: a count tie involving a NULL label diverges across
    engines (Spark's struct-min orders NULL smallest, DuckDB's ORDER BY
    puts it last), so NULL-labeled rows are excluded from the audit —
    cluster_size and the majority both run over labeled rows only, and
    an all-NULL cluster disappears from the output entirely."""
    from candia_spark.operators.clustering import cluster_purity

    rows = [
        # blob A (ids 0,2,4): labels web,NULL,web -> size 2, majority web
        (0, [1.0, 0.0], "web"),
        (2, [0.9, 0.1], None),
        (4, [1.1, -0.1], "web"),
        # blob B (ids 1,3): both NULL -> cluster absent from the audit
        (1, [-1.0, 0.0], None),
        (3, [-0.9, 0.2], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label string"
    )
    out = [
        (r["cluster_size"], r["majority_label"], r["n_majority"])
        for r in cluster_purity(df, k=2, iters=2).collect()
    ]
    assert out == [(2, "web", 2)]


def test_probe_gate_costs_two_jobs_and_keeps_its_branch(spark, sf_smoke):
    """``int_sum=None`` derives the bigint-branch gate in at most two jobs
    before the consumer's action: the embeddings' fan-out and a cut of the
    quantized batch observing its max|component| and dim, with the
    centroid side's stats taken from the training run (the cross-joined
    aggregates it replaced cost five). It picks the branch the bound
    nmax * qmax + smax gives, also for a table no training run made,
    whose k rows it collects instead."""
    from candia_spark.operators.clustering import (
        _N_SQUARED_LIMIT,
        kmeans_centroids,
        kmeans_probe_cells,
    )
    from candia_spark.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    qs = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = kmeans_centroids(emb, k=8, iters=2)
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000, 0).cast("long")
    )
    side = qs.select(qv.alias("qv")).agg(
        F.max(F.array_max(F.transform("qv", F.abs))).alias("qmax"),
        F.max(F.size("qv")).alias("dim"),
    ).first()
    cside = cent.agg(
        F.max("n").alias("nmax"),
        F.max(F.array_max(F.transform("sv", F.abs))).alias("smax"),
    ).first()
    worst = cside["nmax"] * side["qmax"] + cside["smax"]
    bigint = side["dim"] * worst * worst < 2**63 and cside["nmax"] <= _N_SQUARED_LIMIT

    sc = spark.sparkContext
    sc.setJobGroup("probe_gate", "probe_gate")
    try:
        probes = kmeans_probe_cells(qs, cent, nprobe=3)
        jobs = len(sc.statusTracker().getJobIdsForGroup("probe_gate"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 1 <= jobs <= 2
    assert ("decimal(38,0)" not in _plan_of(probes)) == bigint
    forced = kmeans_probe_cells(qs, cent, nprobe=3, int_sum=bigint)
    assert sorted(map(tuple, probes.collect())) == sorted(map(tuple, forced.collect()))
    derived = kmeans_probe_cells(qs, cent.select("cluster", "sv", "n"), nprobe=3)
    assert ("decimal(38,0)" not in _plan_of(derived)) == bigint
