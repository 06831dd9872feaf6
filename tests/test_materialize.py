"""The one materialization primitive, ``operators.materialize.cut``.

- Both legs return the same statistics from exactly one action.
- The persist leg (chosen when executors can disappear) is certified on
  the operators whose guards and loops read cut statistics: identical
  rows to the default leg and no count()/collect() beyond the one count
  per cut.
- Structural guard: no other module materializes on its own.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from candia_spark.operators import materialize

PKG = Path(__file__).resolve().parent.parent / "candia_spark"


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("leg", ["checkpoint", "persist"])
def test_cut_stats_ride_one_action(spark, monkeypatch, leg):
    """Both legs observe the metrics on their one action: the eager
    checkpoint's own job, or the single count() over the persisted rows."""
    persist = leg == "persist"
    df = spark.range(137).selectExpr("id as doc_id", "id * 2 as v")
    cls = type(df)
    counts = []
    real_count = cls.count

    def spy_count(self):
        counts.append(1)
        return real_count(self)

    monkeypatch.setattr(materialize, "_persist_leg", lambda sc: persist)
    monkeypatch.setattr(cls, "count", spy_count)
    sc = spark.sparkContext
    cached_before = _cached_entries(spark)
    group = f"cut_{leg}"
    sc.setJobGroup(group, group)
    try:
        out, stats = materialize.cut(
            df, F.count(F.lit(1)).alias("n"), F.max("v").alias("mx")
        )
        bare, none = materialize.cut(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.undo()
    assert stats == {"n": 137, "mx": 272}
    assert none == {}
    assert len(counts) == (2 if persist else 0)
    if not persist:  # one checkpoint job per cut
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    assert _cached_entries(spark) - cached_before == (2 if persist else 0)
    assert out.count() == bare.count() == 137
    spark.catalog.clearCache()


def test_persist_leg_from_spark_conf(spark):
    """The default test session neither allocates nor decommissions
    executors dynamically, so the checkpoint leg is selected."""
    assert materialize._persist_leg(spark.sparkContext) is False


def _authority_fixture(spark):
    n = 50
    edges = spark.createDataFrame(
        [(i, (i + 1) % n, i % 3 + 1) for i in range(n)]
        + [(i, (i + 7) % n, i % 2 + 1) for i in range(n)],
        "src bigint, dst bigint, w bigint",
    )
    nodes = spark.range(n).selectExpr("id as doc_id")
    return edges, nodes


def _cc_fixture(spark):
    pairs = [(i, i + 1) for i in range(0, 30)] + [(40, 41), (41, 45), (50, 44)]
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def _pq_fixture(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(8)])
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_persist_leg_matches_default_with_one_count_per_cut(
    spark, monkeypatch
):
    from candia_spark import telemetry
    from candia_spark.operators.dedup import connected_components
    from candia_spark.operators.graph import authority_scores
    from candia_spark.operators.similarity import pq_codebook_kmeans

    edges, nodes = _authority_fixture(spark)
    pairs = _cc_fixture(spark)
    corpus = _pq_fixture(spark)
    # large enough that the static whole-trajectory bound fails, so the
    # per-iteration max(score) observations fire (weighted, maxw = 3)
    init = 10**16
    assert 17 * 50 * init * 3 >= 2**63 > 50 * init

    def run():
        return (
            authority_scores(
                edges, nodes, iters=3, init=init, weight_col="w"
            ),
            connected_components(pairs, small_graph_max_edges=None),
            pq_codebook_kmeans(corpus, m=2, codewords=4, iters=2),
        )

    def collect(outs):
        auth, cc, pq = outs
        return (
            _rows(auth, ["doc_id", "degree", "score"]),
            _rows(cc, ["node", "rep"]),
            _rows(pq, ["sub", "code", "cw"]),
        )

    default = collect(run())
    assert telemetry.pop()["authority"]["dynamic_checks"] == 2

    made = []
    real_cut = materialize.cut

    def tracking_cut(df, *metrics):
        made.append(df)
        return real_cut(df, *metrics)

    cached_before = _cached_entries(spark)
    cls = type(edges)
    calls = {"collect": 0, "count": 0}
    real_collect, real_count = cls.collect, cls.count

    def spy_collect(self):
        calls["collect"] += 1
        return real_collect(self)

    def spy_count(self):
        calls["count"] += 1
        return real_count(self)

    monkeypatch.setattr(materialize, "_persist_leg", lambda sc: True)
    monkeypatch.setattr(materialize, "cut", tracking_cut)
    monkeypatch.setattr(cls, "collect", spy_collect)
    monkeypatch.setattr(cls, "count", spy_count)
    try:
        outs = run()
        assert made
        assert calls == {"collect": 0, "count": len(made)}
        assert telemetry.pop()["authority"]["dynamic_checks"] == 2
    finally:
        monkeypatch.undo()
    try:
        assert collect(outs) == default
        assert _cached_entries(spark) - cached_before == len(made)
    finally:
        spark.catalog.clearCache()


def test_no_materialization_outside_cut():
    """Every eager cut goes through materialize.cut. The one named
    exception is graph's src-partitioned edge cache, which must keep its
    InMemoryRelation partitioning; the retired reliable-mode switch and
    row-count attribute must not come back (bracketed so this file does
    not match itself)."""
    retired = re.compile(r"CANDIA_SPARK_RELIABL[E]|_candia_row[s]")
    # (localCheckpoint calls, persist calls) allowed outside materialize.py
    allowed = {"operators/graph.py": (0, 1)}
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        text = path.read_text()
        if retired.search(text):
            bad.append(f"{rel}: retired name")
        if rel == "operators/materialize.py":
            continue
        found = (text.count("localCheckpoint("), text.count(".persist("))
        if any(n > cap for n, cap in zip(found, allowed.get(rel, (0, 0)))):
            bad.append(f"{rel}: materializes outside cut {found}")
    assert not bad, bad
