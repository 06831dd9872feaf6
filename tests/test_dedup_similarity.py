"""Recall/quality pins for the approximate dedup + similarity operators.

The q27/q31 docstrings promise these exist: MinHash-LSH recall vs exact
Jaccard, and hyperplane-LSH recall vs brute-force cosine — both on
synthetic corpora with known ground truth (the driver's documents table is
all-distinct, so near-dup structure must be constructed).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from candia_spark import telemetry
from candia_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_bits_md5,
)
from candia_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango",
]


def _near_dup_corpus():
    """30 base docs of 40 tokens; each gets a near-dup with 2 token edits
    (word-bigram Jaccard ~0.9) plus 30 unrelated docs. Deterministic."""
    rng = np.random.default_rng(7)
    rows = []
    doc_id = 0
    for _ in range(30):
        base = [WORDS[i] for i in rng.integers(0, len(WORDS), 40)]
        rows.append((doc_id, " ".join(base)))
        dup = list(base)
        for pos in rng.integers(0, 40, 2):
            dup[pos] = WORDS[rng.integers(0, len(WORDS))]
        rows.append((doc_id + 1, " ".join(dup)))
        doc_id += 2
    for _ in range(30):
        rows.append((doc_id, " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), 40))))
        doc_id += 1
    return rows


@pytest.fixture(scope="module")
def near_dups(spark):
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    return spark.createDataFrame(_near_dup_corpus(), schema).cache()


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (5, "a b c"), (3, "x y")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    assert got == {1: 3, 3: 1}


def test_minhash_lsh_recall_and_estimate(near_dups):
    """LSH candidates must recover >=90% of truly-similar pairs (exact
    bigram Jaccard >= 0.6), and the minhash estimate must track the exact
    value to ~0.2 mean absolute error at 32 hashes."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(near_dups, n=2, threshold=0.6).collect()
    }
    assert len(exact) >= 25, "corpus should contain planted near-dup pairs"
    cand = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(near_dups, num_hashes=32, bands=8, n=2).collect()
    }
    hit = [p for p in exact if p in cand]
    recall = len(hit) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} true pairs"
    mae = float(np.mean([abs(cand[p] - exact[p]) for p in hit]))
    assert mae <= 0.2, f"minhash Jaccard estimate MAE {mae:.3f}"


def test_minhash_lsh_precision_floor(near_dups):
    """Banded LSH with b=8, r=4 should not flood: candidate pairs with
    est_jaccard >= 0.5 must mostly be truly similar (>= 0.4 exact)."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(near_dups, n=2, threshold=0.0).collect()
    }
    strong = [
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(near_dups, num_hashes=32, bands=8, n=2)
        .filter(F.col("est_jaccard") >= 0.5)
        .collect()
    ]
    assert strong, "expected some strong candidates"
    ok = sum(1 for p in strong if exact.get(p, 0.0) >= 0.4)
    assert ok / len(strong) >= 0.9


def test_simhash_near_dups_close(near_dups):
    """Planted near-dups differ in few simhash bits; unrelated docs in
    many. Compare hamming distances of pair (0,1) vs (0, last)."""
    sigs = {
        r["doc_id"]: int(r["sigbits"], 2)
        for r in simhash_bits_md5(near_dups).collect()
    }

    def ham(a, b):
        return bin(a ^ b).count("1")

    planted = [ham(sigs[i], sigs[i + 1]) for i in range(0, 60, 2)]
    unrelated = [ham(sigs[i], sigs[j]) for i in range(0, 20, 2) for j in range(61, 70)]
    assert float(np.mean(planted)) < float(np.mean(unrelated)) - 4.0


def test_cosine_dup_pairs_contract(clustered_vecs):
    """Embedding near-dup pairs: every emitted pair is >= threshold with
    id_a < id_b, and within-cluster pairs dominate (the clusters are
    well-separated, so cross-cluster cosines are low)."""
    from candia_spark.operators.similarity import cosine_dup_pairs

    pairs = cosine_dup_pairs(
        clustered_vecs, threshold=0.9, n_bits=4, dim=64, seed=42
    ).collect()
    assert pairs, "expected within-cluster near-dup pairs"
    assert all(r.id_a < r.id_b for r in pairs)
    assert all(r.cosine >= 0.9 for r in pairs)
    # cluster membership = vec_id // 40 (fixture layout)
    same = sum(1 for r in pairs if r.id_a // 40 == r.id_b // 40)
    assert same / len(pairs) >= 0.95


def test_simhash_bits_md5_contract(spark):
    """The cross-engine md5 SimHash variant (q28's gate): 64-char bitstring;
    identical token streams (incl. case/whitespace normalization) share the
    signature; a Python md5 re-implementation reproduces it exactly."""
    import hashlib

    from pyspark.sql import Row

    from candia_spark.operators.dedup import simhash_bits_md5

    docs = [
        Row(doc_id=0, text="the quick brown fox"),
        Row(doc_id=1, text="THE  Quick   BROWN fox"),  # same tokens
        Row(doc_id=2, text="a completely different document body"),
    ]
    sigs = {
        r.doc_id: r.sigbits
        for r in simhash_bits_md5(spark.createDataFrame(docs)).collect()
    }
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sigs.values())
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[2]

    def py_sig(text):
        toks = [t for t in text.lower().split(" ") if t]
        sums = [0] * 64
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for j in range(64):
                nib = int(h[j // 4], 16)
                sums[j] += 1 if (nib >> (j % 4)) & 1 else -1
        return "".join("1" if s > 0 else "0" for s in sums)

    assert sigs[0] == py_sig("the quick brown fox")
    assert sigs[2] == py_sig("a completely different document body")


@pytest.fixture(scope="module")
def clustered_vecs(spark):
    """8 well-separated clusters in R^64, 40 points each, queries = first
    point of each cluster. Ground truth: top-k neighbors share the cluster."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 64)) * 4.0
    rows = []
    vid = 0
    for c in centers:
        for _ in range(40):
            v = c + rng.standard_normal(64) * 0.3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema).cache()


def test_lsh_cosine_recall_vs_bruteforce(clustered_vecs):
    queries = clustered_vecs.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(clustered_vecs, queries, k=10)
    approx = cosine_topk_lsh(clustered_vecs, queries, k=10, n_bits=4, dim=64, seed=42)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"hyperplane-LSH recall {recall:.2f}"


def test_bruteforce_topk_is_exact(clustered_vecs):
    """Every query's top-1 is itself (cosine 1.0) and all top-10 come from
    the query's own cluster (separation >> intra-cluster noise)."""
    queries = clustered_vecs.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = cosine_topk_bruteforce(clustered_vecs, queries, k=10).collect()
    for r in rows:
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"] and r["cosine"] == 1.0
        assert r["vec_id"] // 40 == r["query_id"] // 40


def test_ivf_cosine_recall_vs_bruteforce(clustered_vecs):
    """IVF with 8 learned cells and 2 probes must reach higher recall than
    the fixed pin (learned cells align with the planted clusters)."""
    from candia_spark.operators.similarity import cosine_topk_ivf

    queries = clustered_vecs.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(clustered_vecs, queries, k=10)
    approx = cosine_topk_ivf(
        clustered_vecs, queries, k=10, n_centroids=8, nprobe=2, seed=42
    )
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall {recall:.2f}"


def test_cosine_topk_heap_matches_bruteforce(clustered_vecs):
    """The large-Q heap path must produce EXACTLY the window path's output
    (same rounding and tie-break contract)."""
    from candia_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_bruteforce_heap,
    )

    queries = clustered_vecs.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in cosine_topk_bruteforce(clustered_vecs, queries, k=5).collect()
    }
    heap = {
        (r.query_id, r.rank): (r.vec_id, r.cosine)
        for r in cosine_topk_bruteforce_heap(clustered_vecs, queries, k=5).collect()
    }
    assert base == heap and len(base) == 8 * 5


@pytest.mark.slow
def test_connected_components_fuzz_vs_union_find(spark):
    """Star-contraction components must equal a driver-side union-find on
    random graphs: mixed shapes (chains force multi-round convergence,
    cliques mirror near-dup clusters, singleton pairs stay pairs)."""
    import random

    from candia_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = set()
        # random chains (worst case for naive propagation)
        chain = rng.sample(range(n), 12)
        edges |= {tuple(sorted(p)) for p in zip(chain, chain[1:])}
        # a clique
        cl = rng.sample(range(n), 5)
        edges |= {tuple(sorted((a, b))) for a in cl for b in cl if a < b}
        # random extra pairs
        for _ in range(15):
            a, b = rng.sample(range(n), 2)
            edges.add(tuple(sorted((a, b))))

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        expected = {v: find(v) for v in touched}

        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        # Both execution paths must produce identical labels: the
        # distributed star contraction (forced) and the small-graph
        # driver-side union-find (default for graphs this size).
        got_dist = {
            r["node"]: r["rep"]
            for r in connected_components(
                pairs, small_graph_max_edges=None
            ).collect()
        }
        assert got_dist == expected, f"trial {trial} (distributed)"
        # Convergence telemetry: rounds executed, bounded and > 0 (chains
        # force multi-round convergence; O(log^2 n) upper bound).
        assert 0 < telemetry.pop()["cc"]["rounds"] <= 25
        got_local = {
            r["node"]: r["rep"]
            for r in connected_components(pairs).collect()
        }
        assert got_local == expected, f"trial {trial} (union-find)"
        # small path ran, no Spark rounds
        assert telemetry.pop()["cc"]["rounds"] == 0


def test_connected_components_round_telemetry_module_level(spark):
    from candia_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    connected_components(pairs, small_graph_max_edges=None).collect()
    assert telemetry.pop()["cc"] == {"rounds": 2, "edges": 2}
    connected_components(pairs).collect()
    assert telemetry.pop()["cc"] == {"rounds": 0, "edges": 2}


def test_telemetry_attributed_to_job_group(spark):
    """Records land under the job group current on the calling thread,
    so a harness that tags each query collects only that query's
    decisions."""
    from candia_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c") for i in range(6)], ["doc_id", "text"]
    )
    try:
        sc.setJobGroup("qA", "qA")
        connected_components(pairs).collect()
        sc.setJobGroup("qB", "qB")
        ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got_a, got_b = telemetry.pop("qA"), telemetry.pop("qB")
    assert got_a == {"cc": {"rounds": 0, "edges": 2}}
    assert set(got_b) == {"jaccard", "probe"}
    assert got_b["jaccard"]["mode"] == "plain"
    assert telemetry.pop("qA") == telemetry.pop("qB") == {}


def test_probe_partition_cap_is_recorded(spark):
    """The 40k probe-partition cap is never silent: a census mass that
    asks for more partitions records ``clipped: True``, and recording
    runs no Spark job."""
    from candia_spark.operators.dedup import (
        _PROBE_MAX_PARTITIONS,
        _probe_parallelism,
    )

    sc = spark.sparkContext
    df = spark.range(4)
    try:
        sc.setJobGroup("probe_cap", "probe_cap")
        assert _probe_parallelism(df, expanded_rows=10**13) == (
            _PROBE_MAX_PARTITIONS
        )
        assert telemetry.pop("probe_cap")["probe"] == [{
            "partitions": _PROBE_MAX_PARTITIONS, "clipped": True,
        }]
        par = _probe_parallelism(df, expanded_rows=None)
        assert telemetry.pop("probe_cap")["probe"] == [{
            "partitions": par, "clipped": False,
        }]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("probe_cap") == []


def test_probe_telemetry_keeps_one_entry_per_call(spark):
    """Two probes sized under one job group leave two entries, in call
    order; outside any job group only the last call is kept."""
    from candia_spark.operators.dedup import _probe_parallelism

    sc = spark.sparkContext
    df = spark.range(4)
    try:
        sc.setJobGroup("probe_twice", "probe_twice")
        first = _probe_parallelism(df, expanded_rows=None)
        second = _probe_parallelism(df, expanded_rows=10**13)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert telemetry.pop("probe_twice")["probe"] == [
        {"partitions": first, "clipped": False},
        {"partitions": second, "clipped": True},
    ]
    telemetry.pop()
    _probe_parallelism(df, expanded_rows=None)
    _probe_parallelism(df, expanded_rows=None)
    assert len(telemetry.pop()["probe"]) == 1


@pytest.mark.slow
def test_prefix_filter_jaccard_matches_plain(spark):
    """The AllPairs prefix-filtered exact Jaccard join must return the
    IDENTICAL pair set and statistics as the full inverted-index self-join
    (the filter is a lossless candidate pruning, never an approximation) —
    across thresholds, so the prefix-length bound is exercised at several
    set-overlap regimes."""
    from candia_spark.operators.dedup import ngram_jaccard_pairs
    from candia_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for t in (0.2, 0.35, 0.6):
        plain = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["size_a"], r["size_b"])
            for r in ngram_jaccard_pairs(docs, n=2, threshold=t).collect()
        }
        pref = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["size_a"], r["size_b"])
            for r in ngram_jaccard_pairs(
                docs, n=2, threshold=t, prefix_filter=True
            ).collect()
        }
        assert pref == plain, f"threshold {t}"


def test_auto_routing_two_term_decision(spark, monkeypatch):
    """Round-6 routing contract (verdict r5 #1): standalone auto mode is
    a measured two-term decision — prefix iff the corpus is skewed-head
    (Zipf regime, any size) OR the total join mass exceeds the calibrated
    working-set crossover (the condition the round-5 head-mass-only gate
    missed). Pinned here: a small flat-df corpus routes to plain (both
    terms false), a hot-head corpus routes to prefix (skew term), the
    mass term alone routes a flat corpus to prefix once the threshold is
    crossed (exercised by shrinking the module constant), and answers
    match between modes."""
    import candia_spark.operators.dedup as dd
    from candia_spark.operators.dedup import ngram_jaccard_pairs

    def jaccard_record() -> dict:
        return telemetry.pop()["jaccard"]

    # flat: every doc a distinct word pair -> df 1 everywhere, mass tiny
    flat = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c") for i in range(60)], ["doc_id", "text"]
    )
    flat_res = {
        (r["id_a"], r["id_b"], r["n_common"])
        for r in ngram_jaccard_pairs(flat, n=2, threshold=0.5).collect()
    }
    rec = jaccard_record()
    assert rec["auto"] is True
    assert rec["mode"] == "plain"
    assert rec["join_mass"] == 60 * 2  # df=1, 2 shingles/doc

    # the mass term alone (no head) flips the same corpus to prefix once
    # the join mass crosses the crossover — and the answer is identical
    monkeypatch.setattr(dd, "_PREFIX_AUTO_JOIN_MASS", 10)
    assert {
        (r["id_a"], r["id_b"], r["n_common"])
        for r in ngram_jaccard_pairs(flat, n=2, threshold=0.5).collect()
    } == flat_res
    rec = jaccard_record()
    assert rec["mode"] == "prefix"
    assert rec["skewed"] is False
    monkeypatch.undo()

    # skewed: one shared hot phrase in every doc + a unique tail token —
    # the skew term routes to prefix far below the mass crossover
    hot = spark.createDataFrame(
        [(i, f"the same hot phrase every time u{i}") for i in range(60)],
        ["doc_id", "text"],
    )
    res = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(hot, n=2, threshold=0.5).collect()
    }
    rec = jaccard_record()
    assert rec["mode"] == "prefix"
    assert rec["auto"] is True
    assert rec["top_mass_frac"] > 0.5
    pinned = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            hot, n=2, threshold=0.5, prefix_filter=False
        ).collect()
    }
    assert res == pinned and len(res) == 60 * 59 // 2

    rec = jaccard_record()
    assert rec["mode"] == "plain"
    assert rec["auto"] is False


def test_prefix_filter_with_candidates_raises(spark):
    """prefix_filter is a standalone-mode knob; combining it with a
    candidates list must fail loudly instead of silently ignoring the
    flag (ADVICE r4)."""
    from candia_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], ["doc_id", "text"]
    )
    cands = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="standalone"):
        ngram_jaccard_pairs(docs, candidates=cands, prefix_filter=True)


def test_decontaminate_flags_overlap_only(spark):
    """Docs sharing >= min_overlap distinct n-grams with the benchmark are
    flagged with exact overlap counts; disjoint docs are not."""
    from candia_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox" (2 shingles)
            (0, "see the quick brown fox run"),
            # shares nothing at 3-gram granularity
            (1, "a completely different document body"),
            # repeats a shared shingle -> still counted once (distinct)
            (2, "the quick brown stuff the quick brown stuff"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in decontaminate(corpus, bench, n=3).collect()
    }
    assert got == {0: 2, 2: 1}
    strict = decontaminate(corpus, bench, n=3, min_overlap=2)
    assert {r["doc_id"] for r in strict.collect()} == {0}


def test_remove_self_repeated_blocks_pure_map(spark):
    """First occurrence of each block kept in order, repeats dropped,
    trailing partial block always kept; docs shorter than one block pass
    through untouched — and the plan has ZERO exchanges (pure map)."""
    from candia_spark.operators.dedup import remove_self_repeated_blocks

    docs = spark.createDataFrame(
        [
            # blocks (bw=2): "a b", "c d", "a b", "c d" + trailing "e"
            (1, "a b c d a b c d e"),
            # self-repeat NOT block-aligned: "a b","b a" distinct, kept
            (2, "a b b a"),
            (3, "x"),  # shorter than one block: 0 blocks, text kept
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"], r["clean_text"])
        for r in remove_self_repeated_blocks(docs, block_words=2).collect()
    }
    assert out == {
        1: (4, 2, "a b c d e"),
        2: (2, 2, "a b b a"),
        3: (0, 0, "x"),
    }
    plan = (
        remove_self_repeated_blocks(docs, block_words=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_remove_self_repeated_blocks_auto_split(spark):
    """Verdict r9 wrong #3: the auto engine routes long documents to
    the O(blocks) Arrow set and short ones to the UDF-free SQL fold —
    and the split is invisible in results. One doc straddles each side
    of the 256*block_words cut (dedup.py: the fold's quadratic term is
    trivial below ~256 blocks); both get the same first-occurrence
    rewrite, and the whole thing still plans with zero exchanges. A
    NULL-text doc must survive the split too (ADVICE r10: the raw
    size(split(NULL)) routing predicate was NULL on both sides, so the
    row fell out of BOTH legs)."""
    from candia_spark.operators.dedup import remove_self_repeated_blocks

    long_tokens = ["a", "b"] * 3000  # 6000 tokens >= 256*1 -> arrow
    docs = spark.createDataFrame(
        [
            (1, " ".join(long_tokens)),
            (2, "a b a b c"),  # short (< 256 tokens) -> sql fold
            (3, None),  # NULL text: kept, behaves as '' in every engine
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"], r["clean_text"])
        for r in remove_self_repeated_blocks(docs, block_words=1).collect()
    }
    # bw=1 blocks are single tokens: first occurrences only
    assert out[1] == (6000, 2, "a b")
    assert out[2] == (5, 3, "a b c")
    # split(coalesce(NULL,''), ' ') == [''] — one empty token/block
    assert out[3] == (1, 1, "")
    plan = (
        remove_self_repeated_blocks(docs, block_words=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan  # the long-doc leg is present
    with pytest.raises(ValueError, match="engine"):
        remove_self_repeated_blocks(docs, engine="duckdb")


def test_canonical_docs_keep_policy_and_tiebreak(spark):
    """Per component: keep the highest-quality member (default token
    count), ties to smallest id; singletons keep themselves; custom
    quality column swaps the policy."""
    from candia_spark.operators.dedup import canonical_docs

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c d"),
            (3, "x"),
            (4, "p q r s"),
            (5, "p q r s"),
        ],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (4, 5)], ["id_a", "id_b"])
    got = {
        r["rep"]: (r["keep_id"], r["n_members"], r["best_quality"])
        for r in canonical_docs(docs, pairs).collect()
    }
    assert got == {1: (2, 2, 4), 3: (3, 1, 1), 4: (4, 2, 4)}
    by_id = {
        r["rep"]: r["keep_id"]
        for r in canonical_docs(
            docs, pairs, quality=F.col("doc_id")
        ).collect()
    }
    assert by_id == {1: 2, 3: 3, 4: 5}


def test_contamination_spans_coverage_and_heavy(spark):
    """Span coverage counts each token POSITION once even under
    overlapping collisions; the heavy flag is the exact cross-multiplied
    >= 20% gate (no float division)."""
    from candia_spark.operators.dedup import contamination_spans

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], ["doc_id", "text"]
    )
    filler = " ".join(f"f{i}" for i in range(17))
    corpus = spark.createDataFrame(
        [
            # overlapping collisions at pos 1 ("the quick brown") and
            # pos 2 ("quick brown fox") -> covered {1,2,3,4} = 4, not 6
            (0, "see the quick brown fox run"),
            # no 3-gram overlap -> absent from output
            (1, "a completely different document body"),
            # the same shingle twice -> two disjoint spans, 6 positions
            (2, "the quick brown stuff the quick brown stuff"),
            # one 3-token span in a 20-token doc: 3/20 < 20% -> heavy=0
            (3, "the quick brown " + filler),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_contaminated"], r["heavy"])
        for r in contamination_spans(corpus, bench, n=3).collect()
    }
    assert got == {0: (6, 4, 1), 2: (8, 6, 1), 3: (20, 3, 0)}


def test_deterministic_sample_reproducible_and_salted(spark):
    from candia_spark.operators.sampling import (
        sample_flag,
        sample_threshold,
        stratified_sample_counts,
    )

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang")
    )

    def sampled(frac, salt=""):
        return df.filter(sample_flag("doc_id", frac, salt))

    s1 = {r["doc_id"] for r in sampled(0.2).collect()}
    s2 = {r["doc_id"] for r in sampled(0.2).collect()}
    assert s1 == s2  # pure function of the row — no RNG state anywhere
    assert 0.15 < len(s1) / 5000 < 0.25
    other = {
        r["doc_id"]
        for r in sampled(0.2, salt="b").collect()
    }
    assert other != s1  # the salt is the re-roll knob
    # a smaller fraction of the SAME salt is a subset (threshold monotone)
    s_small = {r["doc_id"] for r in sampled(0.05).collect()}
    assert s_small <= s1
    # audit counts agree with the materialized sample
    audit = {
        r["lang"]: (r["n_total"], r["n_sampled"])
        for r in stratified_sample_counts(df, ["lang"], 0.2, "doc_id").collect()
    }
    assert sum(t for t, _ in audit.values()) == 5000
    assert sum(s for _, s in audit.values()) == len(s1)
    assert sample_threshold(0.2) == "3333"
    # boundary fractions: 1.0 keeps EVERY row (the 16^4 bucket count
    # formats as a 5-char hex string that lexicographically inverts the
    # comparison — regression), 0.0 keeps none
    assert sampled(1.0).count() == 5000
    assert sampled(0.0).count() == 0


def test_dedup_corpus_end_to_end(spark):
    """Exact copies collapse to min id; near-dup cluster keeps one
    representative; distinct docs all survive."""
    from candia_spark.operators.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog again and again"
    near1 = base + " extra"
    near2 = base + " more extra"
    rows = [
        (1, base), (2, base),            # exact dups -> keep 1
        (3, near1), (4, near2),          # near-dups of each other & of 1
        (5, "completely different text about spark shuffles and joins"),
        (6, "another unrelated document mentioning tensors and scans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"] for r in dedup_corpus(df, threshold=0.5).collect()
    )
    # 2 drops as exact dup of 1; 3,4 join 1's near-dup component
    assert kept == [1, 5, 6], kept


def test_incremental_near_dups_bipartite(spark):
    """Batch-vs-corpus incremental dedup: cross near-dups are found with
    sides labeled, and NO within-side pair is ever emitted (the bipartite
    contract — a corpus self-pair appearing would mean the join shape
    regressed to corpus x corpus)."""
    from candia_spark.operators.dedup import incremental_near_dups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows_corpus = [
        (10, base),
        (12, base + " lambda"),              # near-dup of 10 (in-corpus)
        (14, "totally different corpus doc about spark and parquet"),
    ]
    rows_new = [
        (21, base + " mu"),                  # near-dup of 10 and 12
        (23, "fresh unique text with no overlap whatsoever here"),
        (25, base + " mu"),                  # exact dup of 21 (in-batch)
    ]
    new_df = spark.createDataFrame(rows_new, "doc_id long, text string")
    corp_df = spark.createDataFrame(rows_corpus, "doc_id long, text string")
    out = incremental_near_dups(new_df, corp_df, threshold=0.7).collect()
    pairs = {(r["new_id"], r["corpus_id"]) for r in out}
    # cross near-dups found, correctly oriented
    assert (21, 10) in pairs and (21, 12) in pairs
    assert (25, 10) in pairs and (25, 12) in pairs
    # no within-side pairs, no self pairs, no clean-doc pairs
    for new_id, corpus_id in pairs:
        assert new_id in {21, 23, 25} and corpus_id in {10, 12, 14}
    assert all(r["new_id"] != 23 for r in out)
    assert all(r["corpus_id"] != 14 for r in out)
    # exact Jaccard values: 21 vs 10 -> |inter|=9 bigrams of 10/10
    r = {(x["new_id"], x["corpus_id"]): x for x in out}[(21, 10)]
    assert (r["n_common"], r["size_new"], r["size_corpus"]) == (9, 10, 9)
    assert abs(r["jaccard"] - 0.9) < 1e-12


def test_incremental_near_dups_corpus_bucket_cap(spark):
    """max_corpus_bucket=1 keeps one min-id representative per corpus band
    bucket: the batch doc is still flagged (pairs with the representative)
    even though the full pair list against the cluster is traded away."""
    from candia_spark.operators.dedup import incremental_near_dups

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corp = spark.createDataFrame(
        [(10, base), (12, base), (14, base)], "doc_id long, text string"
    )  # an exact-dup cluster: every band bucket holds all three
    new = spark.createDataFrame([(21, base + " mu")], "doc_id long, text string")
    capped = incremental_near_dups(new, corp, threshold=0.7, max_corpus_bucket=1)
    pairs = {(r["new_id"], r["corpus_id"]) for r in capped.collect()}
    assert (21, 10) in pairs  # the min-id representative always survives
    assert pairs <= {(21, 10)}  # cluster tail capped away
    full = incremental_near_dups(new, corp, threshold=0.7)
    assert {(r["new_id"], r["corpus_id"]) for r in full.collect()} == {
        (21, 10), (21, 12), (21, 14),
    }


def test_band_config_validated(spark):
    """bands must evenly divide num_hashes — a non-divisor silently drops
    hashes and bands > num_hashes degenerates to a constant band hash
    (full cross join)."""
    from candia_spark.operators.dedup import (
        incremental_near_dups,
        minhash_lsh_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="evenly divide"):
        minhash_lsh_pairs(df, num_hashes=32, bands=12)
    with pytest.raises(ValueError, match="evenly divide"):
        incremental_near_dups(df, df, num_hashes=8, bands=16)


def test_incremental_near_dups_index_reuse(spark):
    """Passing precomputed indexes (the rolling-ingestion contract) gives
    the same answer as the self-built path."""
    from candia_spark.operators.dedup import incremental_near_dups, shingle_index

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corp = spark.createDataFrame(
        [(10, base), (14, "unrelated corpus text here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(21, base + " mu")], "doc_id long, text string")
    direct = incremental_near_dups(new, corp, threshold=0.7).collect()
    reused = incremental_near_dups(
        new,
        corp,
        threshold=0.7,
        new_index=shingle_index(new, 2),
        corpus_index=shingle_index(corp, 2),
    ).collect()
    key = lambda r: (r["new_id"], r["corpus_id"])  # noqa: E731
    assert sorted(map(key, direct)) == sorted(map(key, reused)) == [(21, 10)]


@pytest.mark.slow
def test_incremental_near_dups_persisted_index_round_trip(spark, tmp_path):
    """The rolling-ingestion artifact contract END TO END (verdict r5 #5):
    the corpus shingle index is written to parquet once, reloaded from
    disk in a fresh plan, and batches verified against the reloaded
    artifact return exactly what fresh in-memory indexing returns — with
    corpus_df passed as None, proving the corpus text is never touched
    again (each batch pays O(batch) work plus joins against the stored
    index, which is the whole 100 TB story for this operator)."""
    from candia_spark.operators.dedup import incremental_near_dups, shingle_index
    from candia_spark.tables import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # persist the index artifact (one corpus scan, once per corpus life)
    idx_path = str(tmp_path / "corpus_shingle_index")
    shingle_index(corpus, 2).write.mode("overwrite").parquet(idx_path)
    reloaded = spark.read.parquet(idx_path)

    # two batches: near-dups of real corpus docs (text + a token) and an
    # unrelated doc, with batch ids disjoint from corpus ids
    seed = {
        r["doc_id"]: r["text"]
        for r in corpus.orderBy("doc_id").limit(3).collect()
    }
    off = 10_000_000
    batches = [
        [(off + d, t + " extrazz") for d, t in list(seed.items())[:2]]
        + [(off + 99, "nothing like the corpus at all qqq www eee")],
        [(off + 200 + d, t + " tail tok") for d, t in seed.items()],
    ]
    for rows in batches:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        fresh = sorted(
            map(tuple, incremental_near_dups(batch, corpus, threshold=0.6).collect())
        )
        from_disk = sorted(
            map(
                tuple,
                incremental_near_dups(
                    batch, None, threshold=0.6, corpus_index=reloaded
                ).collect(),
            )
        )
        assert from_disk == fresh and len(fresh) >= 2


def test_contamination_spans_rejects_bad_params(spark):
    from candia_spark.operators.dedup import contamination_spans

    d = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="positive"):
        contamination_spans(d, d, n=0)
    with pytest.raises(ValueError, match="denominator"):
        contamination_spans(d, d, heavy_den=0)
    with pytest.raises(ValueError, match="denominator"):
        contamination_spans(d, d, heavy_num=-1)


def test_remove_self_repeated_blocks_rejects_bad_block_words(spark):
    from candia_spark.operators.dedup import remove_self_repeated_blocks

    d = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="positive"):
        remove_self_repeated_blocks(d, block_words=0)


def test_mmr_select_diversifies_near_dup_shortlist(spark):
    """MMR's defining behavior on a near-dup-ridden shortlist: plain
    top-3 for query [1,0] returns the exact match and its near-copy
    before the off-axis vector; MMR at lam=1/2 picks the exact match,
    then the OFF-AXIS vector (the near-copy's similarity to pick 1
    erases its relevance edge), then the near-copy. Rank 1 is always
    the pure-relevance argmax."""
    from candia_spark.operators.similarity import (
        cosine_topk_bruteforce,
        mmr_select,
    )

    # query [1,0] NOT itself in the corpus (when it is, every round-2
    # score at lam=1/2 is exactly rel - rel = 0 — a degenerate all-tie)
    rows = [
        (1, [0.95, 0.31]),   # best hit
        (2, [0.94, 0.34]),   # near-dup of it (sim ~0.9996)
        (3, [0.6, -0.8]),    # genuinely different direction (rel 0.6)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id bigint, embedding array<float>"
    )
    plain = [
        r["vec_id"]
        for r in cosine_topk_bruteforce(emb, queries, k=3)
        .orderBy("rank").collect()
    ]
    assert plain == [1, 2, 3]  # top-k returns the near-copy second
    # round 2 scores: near-copy 0.9404 - 0.9996 = -0.059; off-axis
    # 0.6 - 0.322 = +0.278 -> the different vector wins
    mmr = [
        r["vec_id"]
        for r in mmr_select(emb, queries, k=3, shortlist=3)
        .orderBy("mmr_rank").collect()
    ]
    assert mmr == [1, 3, 2]  # MMR surfaces the different vector first


def test_mmr_select_validation(spark):
    from candia_spark.operators.similarity import mmr_select

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="lam"):
        mmr_select(emb, q, lam=(3, 2))
    with pytest.raises(ValueError, match="shortlist"):
        mmr_select(emb, q, k=10, shortlist=5)

@pytest.mark.slow
def test_mmr_select_grouped_matches_driver(spark):
    """The grouped engine (verdict r10 next #1) replays the driver
    greedy's exact trajectory — same rounded doubles, same smallest-id
    tie-breaks — for a MULTI-query batch (the case the driver loop
    serializes and the grouped leg distributes). Tie-rich integer
    coordinates so the paths where the two engines could diverge
    (exact float ties) actually occur."""
    from candia_spark.operators.similarity import mmr_select

    vecs = [
        (i, [float((i * 3) % 5 - 2), float((i * 7) % 4 - 1), float(i % 3)])
        for i in range(24)
    ]
    vecs = [(i, v) for i, v in vecs if any(x != 0.0 for x in v)]
    emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.5, -0.25]), (101, [-1.0, 1.0, 0.0]),
         (102, [0.0, 0.0, 1.0])],
        "query_id bigint, embedding array<float>",
    )
    kw = dict(k=5, shortlist=12, lam=(1, 2))
    want = sorted(
        tuple(r) for r in mmr_select(emb, queries, **kw).collect()
    )
    # every engine x shortlist-scan combination replays the identical
    # trajectory (heap topk is set-equal to the window topk by its own
    # pytest; grouped shares the greedy code object with driver):
    # grouped+heap is the full scale configuration — no Q*N shuffle
    # anywhere and nothing query-batch-sized on the driver
    for engine in ("driver", "grouped"):
        for topk_engine in ("window", "heap"):
            got = sorted(
                tuple(r)
                for r in mmr_select(
                    emb, queries, engine=engine,
                    topk_engine=topk_engine, **kw
                ).collect()
            )
            assert got == want, (engine, topk_engine)
    with pytest.raises(ValueError, match="engine"):
        mmr_select(emb, queries, engine="numpy")
    with pytest.raises(ValueError, match="topk_engine"):
        mmr_select(emb, queries, topk_engine="ivf")


def test_mmr_select_grouped_no_driver_collect(spark, monkeypatch):
    """The grouped leg's whole point: NO DataFrame.collect runs inside
    the call (the driver leg collects Q·shortlist²/2 score rows; the
    grouped leg keeps them distributed under applyInPandas). Pinned at
    the API level on the CONCRETE DataFrame class (the abstract parent's
    collect is overridden, so patching it would be vacuously green) —
    the driver leg trips the same spy, proving the spy is live."""
    from candia_spark.operators.similarity import mmr_select

    emb = spark.createDataFrame(
        [(i, [float(i % 3 + 1), float(i % 5)]) for i in range(10)],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(7, [1.0, 2.0])], "query_id bigint, embedding array<float>"
    )
    cls = type(emb)
    calls = {"collect": 0}
    real_collect = cls.collect

    def spy_collect(self):
        calls["collect"] += 1
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", spy_collect)
    out = mmr_select(emb, queries, k=3, shortlist=5, engine="grouped")
    assert calls["collect"] == 0
    mmr_select(emb, queries, k=3, shortlist=5, engine="driver")
    assert calls["collect"] > 0  # the spy IS live; grouped avoided it
    monkeypatch.undo()
    assert out.count() == 3


def test_mmr_select_zero_norm_raises(spark):
    """ADVICE r10: a zero-norm embedding reaching the shortlist used to
    crash the greedy with a bare TypeError on None. Both engines now
    fail loudly with a diagnosable error instead: under this session's
    ANSI default the cosine's norm division throws DIVIDE_BY_ZERO in
    the shortlist scan itself; under non-ANSI deployments the division
    yields NULL and mmr_select's own guard raises the descriptive
    zero-norm ValueError before the greedy sees a None."""
    from candia_spark.operators.similarity import mmr_select

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 1.0])], "query_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
        mmr_select(emb, queries, k=2, shortlist=3)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|zero-norm"):
        mmr_select(emb, queries, k=2, shortlist=3, engine="grouped").collect()

def test_cosine_topk_heap_zero_norm_raises(spark):
    """ADVICE r11: the heap path's numpy normalization used to turn a
    zero-norm corpus vector into NaN scores that silently DROPPED the
    row from the per-partition cut — a third behavior next to the
    window engine's ANSI DIVIDE_BY_ZERO and the mmr engines'
    ValueError. Both sides now fail loudly with the shared zero-norm
    message, and the set-equality contract with the window engine is
    restored by making both paths refuse the same degenerate input."""
    from candia_spark.operators.similarity import cosine_topk_bruteforce_heap

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 1.0])], "query_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="zero-norm corpus vector \\(id=2\\)"):
        cosine_topk_bruteforce_heap(emb, queries, k=2).collect()
    bad_q = spark.createDataFrame(
        [(9, [0.0, 0.0])], "query_id bigint, embedding array<float>"
    )
    good = emb.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="zero-norm query vector \\(id=9\\)"):
        cosine_topk_bruteforce_heap(good, bad_q, k=2)


def test_mmr_grouped_negative_id_raises(spark):
    """ADVICE r11: engine='grouped' reserves id=-1 as the relevance-row
    sentinel, so a negative shortlist id must raise the descriptive
    guard instead of silently misreading score rows; engine='driver'
    has no sentinel and handles the same corpus fine."""
    from candia_spark.operators.similarity import mmr_select

    emb = spark.createDataFrame(
        [(-1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(9, [1.0, 1.0])], "query_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="negative vec_id in the shortlist"):
        mmr_select(emb, queries, k=2, shortlist=3, engine="grouped").collect()
    out = mmr_select(emb, queries, k=2, shortlist=3, engine="driver").collect()
    assert len(out) == 2 and {r.vec_id for r in out} <= {-1, 2, 3}


def _ref_exact_substring(docs: list[tuple[int, str]], k: int) -> dict:
    """Rule-by-rule python reference for exact_substring_dedup: owner =
    min doc_id per k-token gram; tokens under any gram owned by an
    earlier doc are removed."""
    owner: dict = {}
    toks = {d: (t or "").split(" ") for d, t in docs}
    for d in sorted(toks):
        t = toks[d]
        for p in range(len(t) - k + 1):
            g = " ".join(t[p : p + k])
            owner.setdefault(g, d)
    out = {}
    for d, t in toks.items():
        covered = set()
        for p in range(len(t) - k + 1):
            if owner[" ".join(t[p : p + k])] < d:
                covered.update(range(p, p + k))
        kept = [tok for i, tok in enumerate(t) if i not in covered]
        out[d] = (len(t), len(kept), " ".join(kept))
    return out


def test_exact_substring_dedup_fuzz_vs_reference(spark):
    """exact_substring_dedup must equal the rule-by-rule python
    reference on random corpora with planted sharing: copied prefixes,
    mid-document splices, exact-duplicate docs, and short docs below k
    tokens (untouched by construction)."""
    import random

    from candia_spark.operators.dedup import exact_substring_dedup

    rng = random.Random(12)
    vocab = [f"w{i}" for i in range(40)]
    for trial in range(3):
        docs = []
        base_span = " ".join(rng.choices(vocab, k=12))
        for d in range(20):
            words = rng.choices(vocab, k=rng.randint(2, 30))
            text = " ".join(words)
            r = rng.random()
            if r < 0.25:  # splice the shared span mid-document
                cut = rng.randint(0, len(words))
                text = " ".join(words[:cut] + base_span.split() + words[cut:])
            elif r < 0.35 and docs:  # exact duplicate of an earlier doc
                text = docs[rng.randrange(len(docs))][1]
            docs.append((d, text))
        ref = _ref_exact_substring(docs, k=6)
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
            for r in exact_substring_dedup(df, k=6).collect()
        }
        assert got == ref, f"trial {trial}"


def test_exact_substring_dedup_vs_q55_profile_on_planted_spans(spark):
    """Verdict r11 next #1's cross-check: on a corpus whose ONLY
    duplication is one planted long span, the q55 PROFILER
    (substring_duplication) flags every carrier — owner included, its
    census is symmetric — while the REWRITE changes exactly the
    non-owner carriers and removes exactly the span's tokens."""
    from candia_spark.operators.dedup import (
        exact_substring_dedup,
        substring_duplication,
    )

    # pairwise-distinct filler vocabularies so no accidental sharing;
    # the span is >= gram_chars + max_word_len + 1 chars so the q55
    # anchored char-gram guarantee applies
    span = " ".join(f"shared{i:02d}" for i in range(12))
    rows = []
    for d in range(6):
        filler = " ".join(f"doc{d}tok{j:02d}" for j in range(15))
        if d in (2, 4, 5):
            words = filler.split()
            text = " ".join(words[:7] + span.split() + words[7:])
        else:
            text = filler
        rows.append((d, text))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    prof = {
        r.doc_id: r.n_shared for r in substring_duplication(df, gram_chars=40).collect()
    }
    assert {d for d, n in prof.items() if n > 0} == {2, 4, 5}

    got = {r.doc_id: r for r in exact_substring_dedup(df, k=8).collect()}
    for d in (0, 1, 3, 2):  # untouched docs AND the owner (doc 2)
        assert got[d].n_kept == got[d].n_tokens, d
    assert got[2].clean_text == rows[2][1]  # owner byte-identical
    for d in (4, 5):  # non-owner carriers lose exactly the span
        assert got[d].n_tokens - got[d].n_kept == 12, d
        assert got[d].clean_text == " ".join(
            f"doc{d}tok{j:02d}" for j in range(15)
        ), d


def test_exact_substring_rolling_equals_full_rebuild(spark):
    """Rolling exact-substring dedup: rewriting a batch against the
    persisted gram_owner_census must equal the batch slice of a full
    from-scratch run whenever corpus ids order before batch ids."""
    import random

    from candia_spark.operators.dedup import (
        exact_substring_dedup,
        gram_owner_census,
    )

    rng = random.Random(21)
    vocab = [f"v{i}" for i in range(30)]
    span = " ".join(rng.choices(vocab, k=10))
    corpus_rows = []
    for d in range(12):
        words = rng.choices(vocab, k=rng.randint(8, 20))
        text = " ".join(words)
        if d % 3 == 0:
            text = text + " " + span
        corpus_rows.append((d, text))
    batch_rows = []
    for d in range(100, 108):
        words = rng.choices(vocab, k=rng.randint(8, 20))
        text = " ".join(words)
        if d % 2 == 0:
            text = span + " " + text     # corpus-owned span -> covered
        if d in (103, 105):
            text = text + " " + batch_rows[0][1] if batch_rows else text
        batch_rows.append((d, text))

    corpus = spark.createDataFrame(corpus_rows, "doc_id bigint, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    k = 5

    census = gram_owner_census(corpus, k=k)
    rolling = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
        for r in exact_substring_dedup(batch, k=k, corpus_owners=census).collect()
    }
    full = {
        r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
        for r in exact_substring_dedup(
            corpus.unionByName(batch), k=k
        ).collect()
        if r.doc_id >= 100
    }
    assert rolling == full


def test_decontaminate_fuzzy_catches_paraphrase_class(spark):
    """The fuzzy leg must flag a first-token-swapped benchmark twin
    (near-identical shingle sets, no exact identity), aggregate to the
    drop-list shape with the argmax-jaccard bench item (ties to the
    smallest bench id), and stay silent on unrelated docs."""
    from candia_spark.operators.dedup import decontaminate_fuzzy

    base = " ".join(f"tok{i}" for i in range(30))
    bench = spark.createDataFrame(
        [(100, base), (101, "entirely different benchmark item here "
                            "with its own vocabulary set")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "swapped " + " ".join(base.split()[1:])),  # twin of 100
            (2, "no relation to any benchmark content at all in this"),
            (3, base),                                      # exact copy
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in decontaminate_fuzzy(
        corpus, bench, threshold=0.7).collect()}
    assert set(out) == {1, 3}
    assert out[3].max_jaccard == 1.0 and out[3].worst_bench_id == 100
    assert 0.7 <= out[1].max_jaccard < 1.0
    assert out[1].worst_bench_id == 100 and out[1].n_bench_matches == 1


def test_decontaminate_fuzzy_string_ids(spark):
    """r12 ADVICE: the argmax-jaccard tie-break must work for ANY
    orderable id type — string doc ids used to fail analysis on the
    arithmetic-negation device. Ties go to the lexicographically
    smallest bench id, and the id's own type is preserved."""
    from candia_spark.operators.dedup import decontaminate_fuzzy

    base = " ".join(f"tok{i}" for i in range(30))
    # two IDENTICAL bench items -> a guaranteed jaccard tie at 1.0
    bench = spark.createDataFrame(
        [("bench-b", base), ("bench-a", base)], "doc_id string, text string"
    )
    corpus = spark.createDataFrame(
        [("corp-1", base),
         ("corp-2", "unrelated content with a private vocabulary")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in decontaminate_fuzzy(
        corpus, bench, threshold=0.7).collect()}
    assert set(out) == {"corp-1"}
    r = out["corp-1"]
    assert r.n_bench_matches == 2 and r.max_jaccard == 1.0
    assert r.worst_bench_id == "bench-a"  # tie -> smallest, type kept


def test_paragraph_dedup_by_hand(spark):
    """First occurrence in (doc, pos) corpus order wins: cross-doc
    copies drop, the intra-doc second occurrence drops, empty
    paragraphs are always kept (no-evidence doctrine), NULL text is
    ''."""
    from candia_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "alpha beta\n\nshared boiler\n\ngamma"),
        (2, "shared boiler\n\ndelta\n\nshared boiler"),
        (3, "unique one\n\n\n\nunique two"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert (out[1].n_paras, out[1].n_kept) == (3, 3)  # owner keeps all
    assert out[1].clean_text == "alpha beta\n\nshared boiler\n\ngamma"
    # doc2: both 'shared boiler' copies drop (owner is doc1 pos1)
    assert (out[2].n_paras, out[2].n_kept, out[2].clean_text) == (
        3, 1, "delta")
    # the empty middle paragraph carries no evidence -> kept
    assert (out[3].n_kept, out[3].clean_text) == (
        3, "unique one\n\n\n\nunique two")
    assert (out[4].n_paras, out[4].n_kept, out[4].clean_text) == (1, 1, "")


def test_paragraph_dedup_normalized_key(spark):
    """normalize=True: the census key is the q56 normalize_text chain,
    so casing/punctuation variants dedup while the SURVIVING paragraph
    keeps its original bytes."""
    from candia_spark.operators.dedup import paragraph_dedup

    rows = [
        (1, "Shared, Boiler!\n\nown one"),
        (2, "shared boiler\n\nown two"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in paragraph_dedup(df, normalize=True).collect()}
    assert out[1].clean_text == "Shared, Boiler!\n\nown one"  # bytes kept
    assert out[2].clean_text == "own two"
    exact = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert exact[2].n_kept == 2  # without normalize they differ


def test_paragraph_dedup_census_is_grouped_not_windowed(spark):
    """Scale contract: ownership comes from a groupBy census (map-side
    partial agg) + join — a window over the paragraph key would hold
    every occurrence of a viral paragraph in one partition with no
    partial reduction."""
    from candia_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(1, "a\n\nb")], "doc_id bigint, text string"
    )
    plan = paragraph_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_cosine_topk_int8_by_hand(spark):
    """Quantization floor(x/||x||*127) and the integer dot product on
    a hand fixture; ties and ranks exact; negative components exact."""
    from candia_spark.operators.similarity import cosine_topk_int8

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 1.0]),
         (4, [-1.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.1])], "query_id bigint, embedding array<float>"
    )
    out = [(r.vec_id, r.score, r.rank)
           for r in cosine_topk_int8(corpus, qs, k=4).collect()]
    # q quantizes to [126, 12]; corpus to [127,0],[101,76],[0,127],[-127,0]
    assert out == [
        (1, 126 * 127, 1),
        (2, 126 * 101 + 12 * 76, 2),
        (3, 12 * 127, 3),
        (4, -126 * 127, 4),
    ]


def test_cosine_topk_int8_zero_norm_raises(spark):
    """Zero-norm vectors raise loudly in-plan (the mmr_select / heap
    contract — silent drops are the ADVICE r11 defect class)."""
    import pytest
    from candia_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="zero-norm"):
        quantize_int8(df).collect()


def test_quantize_int8_matches_floor_reference(spark):
    """floor(x / ||x|| * 127) per lane against a numpy reference on seeded
    random float32 vectors, the norm summed in the engine's lane order."""
    import math

    from candia_spark.operators.similarity import quantize_int8

    vecs = np.random.default_rng(7).standard_normal((50, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = {r.vec_id: r.qvec for r in quantize_int8(df).collect()}
    for i, v in enumerate(vecs):
        x = v.astype(np.float64)
        norm = math.sqrt(sum(t * t for t in x.tolist()))
        assert got[i] == np.floor(x / norm * 127).astype(np.int64).tolist()


def test_quantize_int8_empty_array_stays_empty(spark):
    """An empty vector has nothing to divide, so it quantizes to [] rather
    than reaching the zero-norm guard."""
    from candia_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, []), (2, [3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    got = {r.vec_id: r.qvec for r in quantize_int8(df).collect()}
    assert got == {1: [], 2: [76, 101]}


def test_quantize_int8_lambda_holds_no_norm(spark):
    """The norm is evaluated once per row, outside the per-lane lambda:
    inside it, the 64-lane ``aggregate`` ran once per lane (lambdas get no
    common-subexpression elimination), O(d^2) per vector."""
    from candia_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id bigint, embedding array<float>"
    )
    plan = quantize_int8(df)._jdf.queryExecution().analyzed()
    exprs = plan.expressions()
    (qvec,) = [
        exprs.apply(i) for i in range(exprs.size())
        if exprs.apply(i).name() == "qvec"
    ]
    body = qvec.child().function().toString()
    assert "lambda" in body
    assert "aggregate" not in body.lower()
