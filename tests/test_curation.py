"""Curation operators: sequence packing, IDF-census term profiling,
per-source caps (operators.curation). Query-level oracle parity for
q51-q53 is covered by test_queries_oracle; these pin the operator
semantics and the scale-critical plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from candia_spark.operators.curation import (
    cap_per_source,
    pack_sequences,
    top_tfidf_terms,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pack_sequences_offsets(spark):
    # shard A: 3 docs of 4/5/3 tokens, budget 6:
    #   doc 1 starts at 0  -> seq 0, ends at 3  -> seq 0
    #   doc 2 starts at 4  -> seq 0, ends at 8  -> seq 1 (straddles)
    #   doc 3 starts at 9  -> seq 1, ends at 11 -> seq 1
    rows = [
        (1, "A", "a b c d"),
        (2, "A", "e f g h i"),
        (3, "A", "j k l"),
        (9, "B", "x y"),
    ]
    out = {
        r["doc_id"]: r
        for r in pack_sequences(_docs(spark, rows), budget=6).collect()
    }
    assert (out[1]["start_offset"], out[1]["seq_id"], out[1]["end_seq_id"]) == (0, 0, 0)
    assert (out[2]["start_offset"], out[2]["seq_id"], out[2]["end_seq_id"]) == (4, 0, 1)
    assert out[2]["offset_in_seq"] == 4
    assert (out[3]["start_offset"], out[3]["seq_id"]) == (9, 1)
    # shards are independent streams
    assert (out[9]["shard"], out[9]["start_offset"], out[9]["seq_id"]) == ("B", 0, 0)


def test_pack_sequences_empty_doc_and_budget_guard(spark):
    rows = [(1, "A", ""), (2, "A", "a b")]
    out = {
        r["doc_id"]: r
        for r in pack_sequences(_docs(spark, rows), budget=4).collect()
    }
    # empty doc consumes no budget and pins to its start sequence
    assert (out[1]["n_tokens"], out[1]["seq_id"], out[1]["end_seq_id"]) == (0, 0, 0)
    assert out[2]["start_offset"] == 0
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(_docs(spark, rows), budget=0)


def test_pack_sequences_no_global_order(spark, sf_smoke):
    """The scale contract: packing must never plan a single-partition
    window (a global ORDER BY would serialize the corpus through one
    task at 100 TB)."""
    from candia_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan_of(pack_sequences(docs, budget=256))
    assert "SinglePartition" not in plan, plan


def test_idf_census_and_top_terms(spark):
    rows = [
        (1, "A", "cat cat dog"),
        (2, "A", "dog fish"),
        (3, "B", "fish fish fish cat"),
    ]
    d = _docs(spark, rows)
    top = {r["doc_id"]: r for r in top_tfidf_terms(d).collect()}
    # doc 1: cat tf=2 df=2 -> 1.0 beats dog 0.5
    assert (top[1]["top_token"], top[1]["tf"], top[1]["df"]) == ("cat", 2, 2)
    assert top[1]["score"] == 1.0
    # doc 2: dog and fish both tf=1 df=2 -> tie, lexicographically first
    assert top[2]["top_token"] == "dog"
    # doc 3: fish tf=3
    assert (top[3]["top_token"], top[3]["tf"]) == ("fish", 3)


def test_top_terms_census_broadcast(spark, sf_smoke):
    """The census side of the tf join must broadcast — a corpus-wide
    shuffle on the token key is the anti-pattern the operator exists to
    avoid."""
    from candia_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan_of(top_tfidf_terms(docs))
    assert "BroadcastHashJoin" in plan, plan


def test_cap_per_source_bounds_and_determinism(spark):
    rows = [(i, "A" if i % 3 else "B", f"t {i}") for i in range(1, 61)]
    d = _docs(spark, rows)
    kept = cap_per_source(d, cap=5).collect()
    per_src: dict[str, int] = {}
    for r in kept:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
        assert 1 <= r["src_rank"] <= 5
    assert all(v <= 5 for v in per_src.values())
    # the kept set is a pure function of (id, salt): partitioning-invariant
    again = cap_per_source(d.repartition(7), cap=5).collect()
    assert {r["doc_id"] for r in kept} == {r["doc_id"] for r in again}
    # a different salt draws a different (but equally bounded) set
    other = cap_per_source(d, cap=5, salt="z").collect()
    assert len(other) == len(kept)
    with pytest.raises(ValueError, match="cap"):
        cap_per_source(d, cap=0)


def test_normalized_exact_dups_groups_formatting_variants(spark):
    from candia_spark.operators.curation import normalized_exact_dups

    rows = [
        (1, "A", "Hello, World!"),
        (2, "A", "hello   world"),   # same after normalization
        (3, "A", "HELLO WORLD."),    # same after normalization
        (4, "A", "goodbye world"),
    ]
    out = {r["doc_id"]: r for r in normalized_exact_dups(_docs(spark, rows)).collect()}
    assert out[1]["group_size"] == 3 and out[1]["keep"]
    assert out[2]["keeper_id"] == 1 and not out[2]["keep"]
    assert out[3]["norm_digest"] == out[1]["norm_digest"]
    assert out[4]["group_size"] == 1 and out[4]["keep"]
    # exactly one keeper per group
    assert sum(1 for r in out.values() if r["keep"]) == 2


def test_normalized_dups_single_shuffle_no_python(spark):
    """Scale contract: one digest-keyed exchange, whole plan JVM-side."""
    from candia_spark.operators.curation import normalized_exact_dups

    rows = [(1, "A", "x y"), (2, "A", "x  y")]
    plan = _plan_of(normalized_exact_dups(_docs(spark, rows)))
    assert "Python" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_substring_duplication_plants_and_guards(spark):
    from candia_spark.operators.dedup import substring_duplication

    shared = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, "A", "unique prefix one " + shared),
        (2, "A", "different lead-in text " + shared),
        (3, "A", "entirely unrelated content with no overlap at all whatsoever"),
    ]
    out = {
        r["doc_id"]: r
        for r in substring_duplication(_docs(spark, rows), 40).collect()
    }
    # docs 1/2 share a long verbatim run at DIFFERENT offsets; word-start
    # anchoring is alignment-free, so the shared grams still collide
    assert out[1]["n_shared"] > 0 and out[2]["n_shared"] > 0
    assert out[3]["n_shared"] == 0 and out[3]["dup_frac"] == 0.0
    assert 0.0 < out[1]["dup_frac"] <= 1.0
    # short doc: whole text is its single gram
    short = substring_duplication(
        _docs(spark, [(7, "A", "tiny")]), 40
    ).collect()[0]
    assert (short["n_grams"], short["n_shared"]) == (1, 0)
    with pytest.raises(ValueError, match="positive"):
        substring_duplication(_docs(spark, rows), 0)


def test_substring_duplication_plan_shape(spark):
    """Scale contract: the gram digest map is computed once behind a
    checkpoint cut (not re-derived per consumer branch), grams travel as
    md5 digests, and the whole scan is JVM-side."""
    from candia_spark.operators.dedup import substring_duplication

    rows = [(1, "A", "x y z w v u t s"), (2, "A", "x y z w v u t s")]
    plan = _plan_of(substring_duplication(_docs(spark, rows), 8))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    # the materialized gram table is what every branch scans
    assert "ExistingRDD" in plan


def test_score_percentiles_exact_and_census_bounded(spark):
    from candia_spark.operators.curation import score_percentiles

    # scores 0.1/0.1/0.5/0.9 -> below-counts 0/0/2/3 of 4
    rows = [(1, "A", "a"), (2, "A", "b"), (3, "A", "c"), (4, "A", "d")]
    d = _docs(spark, rows)
    score = (
        F.when(F.col("doc_id") <= 2, 0.1)
        .when(F.col("doc_id") == 3, 0.5)
        .otherwise(0.9)
    )
    out = {r["doc_id"]: r for r in score_percentiles(d, score).collect()}
    assert (out[1]["n_below"], out[1]["pct"]) == (0, 0.0)
    assert out[2]["bucket"] == out[1]["bucket"] == 100
    assert (out[3]["n_below"], out[3]["pct"]) == (2, 0.5)
    assert (out[4]["n_below"], out[4]["pct"]) == (3, 0.75)
    # the cumulative table joins back as a broadcast: the corpus side
    # never shuffles for the window (it runs on the census only)
    plan = _plan_of(score_percentiles(d, score))
    assert "BroadcastHashJoin" in plan
    with pytest.raises(ValueError, match="buckets"):
        score_percentiles(d, score, buckets=0)


def test_score_percentiles_null_score_fails_loudly(spark):
    """The non-null score contract is enforced, not assumed (ADVICE r5):
    a score expression that evaluates to NULL must raise — a null bucket
    would silently drop the row at the census join and sorts differently
    in Spark (nulls-first) vs DuckDB (nulls-last)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from candia_spark.operators.curation import score_percentiles

    d = _docs(spark, [(1, "A", "a"), (2, "A", "b")])
    null_score = F.when(F.col("doc_id") == 1, 0.5)  # doc 2 -> NULL
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as exc:
        score_percentiles(d, null_score).collect()
    assert "score expression evaluated to NULL" in str(exc.value)


def test_curate_corpus_stage_interactions(spark):
    """The composition must apply stages in order: a formatting dup is
    dropped BEFORE packing (so offsets skip it), low-quality docs are
    gone, and the cap binds per source."""
    from candia_spark.operators.curation import curate_corpus

    good = "the cat and the dog sat of to is the end " * 3  # quality > 0.5
    rows = [
        (1, "A", good),
        (2, "A", good.upper() + "!!!"),   # normalized dup of 1 -> dropped
        (3, "A", "zz"),                   # low quality -> dropped
        (4, "A", good + " extra tail of the story"),
        (9, "B", "a " + good),  # distinct text: dedup is cross-source
    ]
    out = {r["doc_id"]: r for r in curate_corpus(_docs(spark, rows), source_cap=5).collect()}
    assert set(out) == {1, 4, 9}
    # doc 4's offset starts right after doc 1 (doc 2 and 3 never packed)
    assert out[4]["start_offset"] == out[1]["n_tokens"]
    assert out[9]["start_offset"] == 0 and out[9]["shard"] == "B"


def test_chunk_documents_windows_and_edges(spark):
    """Sliding-window semantics: starts every stride tokens, final chunk
    truncated, exact-multiple docs emit no empty tail, empty docs emit
    nothing, and the reassembled non-overlapping prefix round-trips."""
    from candia_spark.operators.curation import chunk_documents

    rows = [
        (1, "a b c d e f g h i j"),   # 10 tokens
        (2, "x y z w"),               # exactly one stride (4)
        (3, ""),                      # empty -> no chunks
        (4, "only three toks"),       # shorter than one chunk
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(d, chunk_tokens=6, overlap=2)  # stride 4
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r["chunk_id"])
    # doc 1: starts 0,4,8 -> lengths 6,6,2
    assert [(r["start_token"], r["n_chunk_tokens"]) for r in by_doc[1]] == [
        (0, 6), (4, 6), (8, 2)
    ]
    assert by_doc[1][0]["chunk_text"] == "a b c d e f"
    assert by_doc[1][2]["chunk_text"] == "i j"
    # doc 2: 4 tokens -> one chunk of 4 (no empty second window)
    assert [(r["start_token"], r["n_chunk_tokens"]) for r in by_doc[2]] == [(0, 4)]
    assert 3 not in by_doc
    assert by_doc[4][0]["chunk_text"] == "only three toks"
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(d, chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(d, chunk_tokens=0)
    # pure map: no exchange in the plan
    plan = _plan_of(chunk_documents(d, chunk_tokens=6, overlap=2))
    assert "Exchange" not in plan and "Python" not in plan


def test_sample_to_mixture_targets_and_shortfall(spark):
    """Mixture sampling: per-source counts hit floor(weight*total),
    an undersized source contributes everything (visible shortfall, not
    silent rebalancing), unlisted sources are excluded, and the draw is
    deterministic under the same salt and moves under a new one."""
    from candia_spark.operators.curation import sample_to_mixture

    rows = [(i, f"s{i % 4}", "d") for i in range(40)]  # 10 docs per source
    d = spark.createDataFrame(rows, "doc_id long, source string, lang string")
    weights = {"s0": 0.5, "s1": 0.2, "s2": 0.9}  # s2 target 18 > 10 available
    out = sample_to_mixture(d, weights, total=20)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"s0": 10, "s1": 4, "s2": 10}  # s0 target==size, s2 shortfall
    assert "s3" not in counts
    r1 = sorted(r["doc_id"] for r in sample_to_mixture(d, weights, 20).collect())
    r2 = sorted(r["doc_id"] for r in sample_to_mixture(d, weights, 20).collect())
    r3 = sorted(
        r["doc_id"] for r in sample_to_mixture(d, weights, 20, salt="v2").collect()
    )
    assert r1 == r2 and r1 != r3 and len(r3) == len(r1)
    with pytest.raises(ValueError, match="total"):
        sample_to_mixture(d, weights, 0)
    with pytest.raises(ValueError, match="non-empty"):
        sample_to_mixture(d, {}, 10)


def test_chunk_documents_reassembly_property(spark):
    """Property (hypothesis): for any token stream, dropping each chunk's
    overlap prefix (except chunk 0) and concatenating reconstructs the
    exact token stream — no token lost, duplicated, or reordered by the
    window arithmetic."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from candia_spark.operators.curation import chunk_documents

    @settings(max_examples=12, deadline=None)
    @given(
        n_toks=st.integers(min_value=0, max_value=57),
        chunk=st.integers(min_value=2, max_value=12),
        overlap=st.integers(min_value=0, max_value=6),
    )
    def check(n_toks, chunk, overlap):
        if overlap >= chunk:
            return
        toks = [f"t{i}" for i in range(n_toks)]
        d = spark.createDataFrame(
            [(1, " ".join(toks))], "doc_id long, text string"
        )
        rows = sorted(
            chunk_documents(d, chunk_tokens=chunk, overlap=overlap).collect(),
            key=lambda r: r["chunk_id"],
        )
        rebuilt = []
        for r in rows:
            parts = r["chunk_text"].split(" ") if r["chunk_text"] else []
            rebuilt.extend(parts if r["chunk_id"] == 0 else parts[overlap:])
        assert rebuilt == toks
        # window arithmetic invariants
        stride = chunk - overlap
        for r in rows:
            assert r["start_token"] == r["chunk_id"] * stride
            assert 1 <= r["n_chunk_tokens"] <= chunk

    check()


def test_mixture_targets_table_broadcasts(spark):
    """Scale contract: the weights table joins as a broadcast — a shuffle
    of the corpus on the source key for a dict-sized lookup would be the
    anti-pattern."""
    from candia_spark.operators.curation import sample_to_mixture

    rows = [(i, f"s{i % 4}", "d") for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, source string, lang string")
    plan = _plan_of(sample_to_mixture(d, {"s0": 0.5, "s1": 0.5}, 20))
    assert "BroadcastHashJoin" in plan and "Python" not in plan


def test_mixture_targets_exact_rational_floor():
    """Advice r6 #4: int(w * total) in binary floating point undercounts
    the documented floor(weight * total) for weights like 0.29 whose
    double is just below the decimal value. mixture_targets computes the
    floor in rational arithmetic over the decimal the caller wrote."""
    from candia_spark.operators.curation import mixture_targets

    assert int(0.29 * 100) == 28  # the binary-float trap this guards
    assert mixture_targets({"a": 0.29}, 100) == {"a": 29}
    assert mixture_targets({"a": 0.1, "b": 0.7}, 300) == {"a": 30, "b": 210}
    # non-terminating decimals still floor exactly
    assert mixture_targets({"a": 1 / 3}, 3) == {"a": 0}
    assert mixture_targets({"a": 0.35}, 10) == {"a": 3}


def test_corpus_diff_statuses(spark):
    """Snapshot delta semantics: all four statuses on one fixture, by
    content digest (re-crawled identical text is 'unchanged')."""
    from candia_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta v2"), (4, "delta")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # the join carries digests, never text: both digest columns present
    cols = corpus_diff(old, new).columns
    assert cols == ["doc_id", "status", "old_digest", "new_digest"]


def test_bpe_merge_pairs_counts_and_tiebreak(spark):
    from candia_spark.operators.curation import bpe_merge_pairs

    # vocabulary: "abab" x3, "ab" x2, "ba" x1, "x" x2 (1-char: no pairs)
    rows = [
        (1, "A", "abab ab x"),
        (2, "A", "abab ab ba"),
        (3, "A", "abab x"),
    ]
    out = bpe_merge_pairs(_docs(spark, rows), k=10).collect()
    got = {(r["pair"], r["weight"]) for r in out}
    # "abab": pairs ab, ba, ab -> per word 2*ab + 1*ba, x3 words
    # "ab" x2 -> 2*ab ; "ba" x1 -> 1*ba
    assert got == {("ab", 3 * 2 + 2), ("ba", 3 * 1 + 1)}
    # deterministic order: weight DESC then pair ASC
    assert [r["pair"] for r in out] == ["ab", "ba"]


def test_bpe_merge_pairs_single_char_words_only(spark):
    from candia_spark.operators.curation import bpe_merge_pairs

    rows = [(1, "A", "a b c a")]
    assert bpe_merge_pairs(_docs(spark, rows)).count() == 0


def test_unigram_rarity_bits_exact(spark):
    from candia_spark.operators.curation import unigram_rarity

    # corpus counts: the=4 (bits 3), rare=1 (bits 1), word=3 (bits 2)
    rows = [
        (1, "A", "the the word"),     # bits 3+3+2=8,  n=3
        (2, "A", "the word rare"),    # bits 3+2+1=6,  n=3
        (3, "A", "the word"),         # bits 3+2=5,    n=2
        (4, "A", ""),                 # empty: excluded
    ]
    for bcast in (True, False):
        out = {
            r["doc_id"]: r
            for r in unigram_rarity(_docs(spark, rows), broadcast_vocab=bcast).collect()
        }
        assert set(out) == {1, 2, 3}
        assert (out[1]["n_tokens"], out[1]["total_bits"]) == (3, 8)
        assert (out[2]["n_tokens"], out[2]["total_bits"]) == (3, 6)
        assert (out[3]["n_tokens"], out[3]["total_bits"]) == (2, 5)
        # corpus: c_toks=8, c_bits=19. tail iff bits*8 < 19*n:
        # doc1 64 >= 57 no; doc2 48 < 57 yes; doc3 40 >= 38 no
        assert (out[1]["tail"], out[2]["tail"], out[3]["tail"]) == (0, 1, 0)


def test_bigram_assoc_bits_exact(spark):
    from candia_spark.operators.curation import bigram_assoc

    # unigram counts: a=3 (bits 2), b=2 (bits 2), c=1 (bits 1), x=1
    # bigram counts: (a,b)=2 (bits 2), (b,a)=1 (bits 1), (a,c)=1 (bits 1)
    rows = [
        (1, "A", "a b a b"),  # pairs (a,b) 0, (b,a) -2, (a,b) 0 -> -2, n=3
        (2, "A", "a c"),      # (a,c): 2*1-2-1 = -1, n=1
        (3, "A", "x"),        # no pairs: excluded
    ]
    out = {
        r["doc_id"]: (r["n_pairs"], r["total_assoc"], r["incoherent"])
        for r in bigram_assoc(_docs(spark, rows)).collect()
    }
    # corpus: c_pairs=4, c_assoc=-3. incoherent iff assoc*4 < -3*n_pairs:
    # doc1 -8 < -9 no; doc2 -4 < -3 yes
    assert out == {1: (3, -2, 0), 2: (1, -1, 1)}
    # the open-vocab shuffle-join path (advice r9 #2) is semantically
    # identical to the broadcast-map default
    out2 = {
        r["doc_id"]: (r["n_pairs"], r["total_assoc"], r["incoherent"])
        for r in bigram_assoc(
            _docs(spark, rows), broadcast_unigrams=False
        ).collect()
    }
    assert out2 == out


def test_bpe_train_trajectory_by_hand(spark):
    """Sennrich's loop on a corpus small enough to run by hand:
    words aaab(x2), ab(x1). Round 1: (a,a)=4 beats (a,b)=3 -> merge
    'aa' ('aaa' greedy-merges to [aa, a], NOT [aa, aa]). Round 2:
    (a,b)=3 (aaab's tail pair + ab) -> 'ab'. Round 3: (aa,ab)=2 ->
    'aaab'. Round 4: no pairs left -> early stop after 3 rows."""
    from candia_spark.operators.curation import bpe_train

    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], "doc_id bigint, text string"
    )
    got = [tuple(r) for r in bpe_train(df, rounds=5).collect()]
    assert got == [
        (1, "a", "a", "aa", 4),
        (2, "a", "b", "ab", 3),
        (3, "aa", "ab", "aaab", 2),
    ]
    with pytest.raises(ValueError, match="rounds"):
        bpe_train(df, rounds=0)
    with pytest.raises(ValueError, match="engine"):
        bpe_train(df, engine="gpu")


@pytest.mark.slow
def test_bpe_train_local_equals_distributed(spark):
    """Verdict r10 next #2: the driver-local merge loop (vocab collected
    once, incremental pair census) returns the IDENTICAL trajectory to
    the per-round distributed loop — here over 10 rounds on a corpus
    with shared prefixes/suffixes so merges cascade (merged symbols
    themselves merge again), plus the auto-routing contract: a tiny
    vocab routes local, budget 0 forces distributed, and all three
    agree."""
    from candia_spark.operators.curation import bpe_train

    df = spark.createDataFrame(
        [
            (1, "international internal interval"),
            (2, "internal note notebook"),
            (3, "interval international notebook note"),
        ],
        "doc_id bigint, text string",
    )
    legs = {
        engine: [
            tuple(r)
            for r in bpe_train(df, rounds=10, engine=engine).collect()
        ]
        for engine in ("distributed", "local", "auto")
    }
    assert legs["local"] == legs["distributed"]
    assert legs["auto"] == legs["distributed"]
    assert len(legs["local"]) == 10  # enough pair mass for all rounds
    # budget 0 can't fit any vocab -> auto falls back to distributed
    forced = [
        tuple(r)
        for r in bpe_train(
            df, rounds=10, engine="auto", local_budget_bytes=0
        ).collect()
    ]
    assert forced == legs["distributed"]


def test_bpe_train_local_runs_no_per_round_jobs(spark, monkeypatch):
    """The local engine's point (verdict r10 #2: ~10^5 sequential Spark
    jobs of scheduling overhead for a production vocab): after the one
    corpus census, merge rounds run in-process — DataFrame.collect fires
    exactly once (the vocab collect), not once per round. NB: patch the
    CONCRETE DataFrame class (type(df)) — the abstract pyspark.sql
    .DataFrame parent's collect is overridden by the classic subclass,
    so patching the parent is inert."""
    from candia_spark.operators.curation import bpe_train

    df = spark.createDataFrame(
        [(1, "aaab aaab ab abab baba")], "doc_id bigint, text string"
    )
    cls = type(df)
    calls = {"collect": 0}
    real_collect = cls.collect

    def spy_collect(self):
        calls["collect"] += 1
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", spy_collect)
    out = bpe_train(df, rounds=8, engine="local")
    assert calls["collect"] == 1
    monkeypatch.undo()
    assert out.count() >= 3


def test_bpe_encode_counts_by_hand(spark):
    """Encoding under the hand-trained trajectory of
    test_bpe_train_trajectory_by_hand (merges aa, ab, aaab in order):
    'aaab' segments to 1 symbol, 'ab' to 1, 'aa' (unseen as a word but
    built from seen chars) to 1 via the aa merge, 'ba' to 2 (no merge
    matches b-then-a), 'x' to 1 (single char, never merges), '' -> 0s."""
    from candia_spark.operators.curation import bpe_encode, bpe_train

    train = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], "doc_id bigint, text string"
    )
    merges = bpe_train(train, rounds=5)
    docs = spark.createDataFrame(
        [
            (10, "aaab ab aaab"),
            (11, "aa ba x"),
            (12, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    assert out == {10: (3, 3), 11: (3, 4), 12: (0, 0)}
    # list form of merges behaves identically
    out2 = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_encode(
            docs, [("a", "a"), ("a", "b"), ("aa", "ab")]
        ).collect()
    }
    assert out2 == out


def test_dsir_select_by_hand(spark):
    """Token scores: bits(target cnt) - bits(corpus cnt); docs above the
    corpus-mean per-token score are selected. Corpus: 'aa aa bb' x2
    words... constructed so target-heavy doc 1 scores above the mean
    and target-absent doc 2 below."""
    from candia_spark.operators.curation import dsir_select

    docs = spark.createDataFrame(
        [(1, "aa aa"), (2, "bb bb"), (3, "aa bb")],
        "doc_id bigint, text string",
    )
    target = docs.filter("doc_id = 1")  # target vocab: aa (cnt 2, bits 2)
    out = {
        r["doc_id"]: (r["n_tokens"], r["score_bits"], r["selected"])
        for r in dsir_select(docs, target).collect()
    }
    # corpus counts: aa=3 (bits 2), bb=3 (bits 2); target: aa=2 (bits 2)
    # tok_score: aa = 2-2 = 0; bb = 0-2 = -2
    # doc1: n=2 sum 0; doc2: n=2 sum -4; doc3: n=2 sum -2
    # corpus: c_toks=6, c_bits=-6 -> selected iff score*6 > -6*n:
    # doc1 0 > -12 yes; doc2 -24 > -12 no; doc3 -12 > -12 no
    assert out == {1: (2, 0, 1), 2: (2, -4, 0), 3: (2, -2, 0)}


def test_cluster_safe_split_audit_counts(spark):
    """Members are assigned by their component representative's hash;
    the audit counts re-homed members and the clusters naive splitting
    would have straddled, on both sides of the split."""
    from candia_spark.operators.curation import cluster_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 8, 9, 18, 19, 21)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 8), (4, 5), (9, 19), (18, 21)], ["id_a", "id_b"]
    )
    # clusters: rep 1 {1,8} train (8 naive-val -> moved+leaky);
    # rep 4 {4,5} train (both naive-train); rep 9 {9,19} val (both
    # naive-val); rep 18 {18,21} val (21 naive-train -> moved+leaky);
    # singletons 2, 3 train.
    out = {
        r["split"]: (
            r["n_docs"], r["n_clusters"], r["n_moved"], r["n_leaky_clusters"]
        )
        for r in cluster_safe_split(docs, pairs).collect()
    }
    assert out == {"train": (6, 4, 1, 1), "val": (4, 2, 1, 1)}


def test_unigram_rarity_broadcast_path_has_no_scoring_exchange(spark):
    from candia_spark.operators.curation import unigram_rarity

    rows = [(i, "A", "tok a b c") for i in range(1, 6)]
    plan = _plan_of(unigram_rarity(_docs(spark, rows), broadcast_vocab=True))
    # after the (materialized) per-doc score table, the corpus-mean join
    # must be broadcast: no hashpartitioning exchange downstream of the
    # localCheckpoint scan
    tail_plan = plan.split("ExistingRDD")[0]
    assert "Exchange hashpartitioning" not in tail_plan


def test_cluster_safe_split_rejects_degenerate_split(spark):
    from candia_spark.operators.curation import cluster_safe_split

    docs = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    # (10, 0) and (10, 10) are the exact all-val/all-train non-splits
    # the guard's comment promises to refuse (advice r9 #1)
    for mod, lt in ((0, 0), (10, 11), (10, -1), (10, 0), (10, 10)):
        with pytest.raises(ValueError, match="train_lt"):
            cluster_safe_split(docs, pairs, mod=mod, train_lt=lt)

def test_dsir_features_validation(spark):
    from candia_spark.operators.curation import dsir_select

    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="ngram"):
        dsir_select(df, df, ngram=3)
    with pytest.raises(ValueError, match="buckets"):
        dsir_select(df, df, ngram=2, buckets=0)

def test_quality_classifier_weights_and_score_by_hand(spark):
    """NB-trained integer log-odds weights + the broadcast linear
    scorer, small enough to check by hand: pos census good=2,fine=1 and
    neg census bad=2,good=1 give weights good=+1, fine=+1, bad=-2;
    scoring with threshold 1/2 keeps the doc whose per-token mean
    clears it, flags the bad and unseen-token docs 0, and emits a
    verdict (zeros) even for the EMPTY doc — a gate must answer for
    every arrival."""
    from candia_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_weights,
    )

    pos = spark.createDataFrame(
        [(1, "good good fine")], "doc_id bigint, text string"
    )
    neg = spark.createDataFrame(
        [(2, "bad bad good")], "doc_id bigint, text string"
    )
    w = {
        r["tok"]: r["weight"]
        for r in quality_classifier_weights(pos, neg).collect()
    }
    assert w == {"good": 1, "fine": 1, "bad": -2}
    docs = spark.createDataFrame(
        [(1, "good fine"), (2, "bad bad"), (3, ""), (4, "zz unseen")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["score_w"], r["keep"])
        for r in quality_classifier_score(
            docs, quality_classifier_weights(pos, neg), threshold=(1, 2)
        ).collect()
    }
    assert out == {
        1: (2, 2, 1),    # mean 1 > 1/2
        2: (2, -4, 0),   # negative weights flow through exactly
        3: (0, 0, 0),    # empty doc: verdict emitted, not dropped
        4: (2, 0, 0),    # unseen tokens weigh 0; 0*2 > 1*2 is false
    }
    with pytest.raises(ValueError, match="denominator"):
        quality_classifier_score(docs, pos, threshold=(1, 0))


def test_quality_classifier_model_join_broadcasts(spark):
    """Scale contract: the model side of the scoring join must
    broadcast (the weights table is bounded by buckets / training
    vocabulary) — a corpus-wide shuffle on the feature key is the
    anti-pattern the broadcast model exists to avoid."""
    from candia_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_weights,
    )

    pos = spark.createDataFrame(
        [(1, "good fine")], "doc_id bigint, text string"
    )
    neg = spark.createDataFrame([(2, "bad")], "doc_id bigint, text string")
    w = quality_classifier_weights(pos, neg, buckets=64)
    plan = _plan_of(
        quality_classifier_score(pos.unionByName(neg), w, buckets=64)
    )
    assert "BroadcastHashJoin" in plan, plan

def test_strip_boilerplate_lines_by_hand(spark):
    """CCNet/RefinedWeb site-furniture stripping, checkable by hand:
    within source A (4 docs) the header appears in 4/4 docs (>= 1/2,
    stripped) and the promo in 2/4 (>= 1/2 AND >= min_docs=2,
    stripped); the body lines are unique (kept — min_docs protects
    them twice over); source B has ONE doc, whose header would be 1/1
    but min_docs=2 keeps it (the small-group guard). Order of
    surviving lines is preserved; NULL text behaves as ''."""
    from candia_spark.operators.curation import strip_boilerplate_lines

    rows = [
        (1, "A", "head\nbody one\npromo\ntail one"),
        (2, "A", "head\nbody two\npromo"),
        (3, "A", "head\nbody three"),
        (4, "A", "head\nbody four"),
        (5, "B", "head\nlonely body"),
        (6, "B", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_text"])
        for r in strip_boilerplate_lines(df).collect()
    }
    assert out[1] == (4, 2, "body one\ntail one")
    assert out[2] == (3, 1, "body two")
    assert out[3] == (2, 1, "body three")
    assert out[4] == (2, 1, "body four")
    # group B: 1 doc -> nothing reaches min_docs=2, all lines kept
    assert out[5] == (2, 2, "head\nlonely body")
    # NULL text == '' == one empty line; B has 2 docs but '' appears in
    # only one of them -> kept
    assert out[6] == (1, 1, "")
    with pytest.raises(ValueError, match="max_frac"):
        strip_boilerplate_lines(df, max_frac=(1, 0))
    with pytest.raises(ValueError, match="min_docs"):
        strip_boilerplate_lines(df, min_docs=0)


def test_strip_boilerplate_lines_all_boiler_and_broadcast(spark):
    """A document whose every line is group-furniture comes back with
    clean_text '' (not a dropped row), and the group-census side of
    the plan broadcasts (plan pin: the per-group doc counts must never
    shuffle corpus-sized data)."""
    from candia_spark.operators.curation import strip_boilerplate_lines

    rows = [
        (1, "A", "same\nsame2"),
        (2, "A", "same\nsame2"),
        (3, "A", "same\nsame2\nextra"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_text"])
        for r in strip_boilerplate_lines(df).collect()
    }
    assert out[1] == (2, 0, "")
    assert out[2] == (2, 0, "")
    assert out[3] == (3, 1, "extra")
    plan = _plan_of(strip_boilerplate_lines(df))
    assert "BroadcastHashJoin" in plan, plan

def test_strip_boilerplate_lines_normalized_matching(spark):
    """normalize=True (CCNet's actual behavior — furniture mutates its
    markup between pages): 'HEAD!', 'head' and '  head  ' census as ONE
    line within the group and cross the 1/2 threshold together, while
    each SURVIVING line keeps its original bytes. Exact mode treats
    them as three distinct below-threshold lines and keeps all."""
    from candia_spark.operators.curation import strip_boilerplate_lines

    rows = [
        (1, "A", "HEAD!\nbody one"),
        (2, "A", "head\nbody two"),
        (3, "A", "  head  \nbody three"),
        (4, "A", "no furniture here"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    norm = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_lines(df, normalize=True).collect()
    }
    assert norm == {
        1: "body one", 2: "body two", 3: "body three",
        4: "no furniture here",
    }
    exact = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_lines(df, normalize=False).collect()
    }
    # exact mode: the three header variants are distinct (df=1 each)
    assert exact[1] == "HEAD!\nbody one"
    assert exact[2] == "head\nbody two"
    assert exact[3] == "  head  \nbody three"

def test_bpe_train_local_heap_tie_stress(spark):
    """50-round local==distributed equivalence on a two-letter corpus
    where pair weights tie CONSTANTLY and counts oscillate (merge,
    re-add, re-merge) — the exact traffic that exercises the lazy
    heap's stale-entry discard and its (-w, l, r) tie order. Any heap
    bookkeeping error shows as a trajectory divergence within a few
    rounds (each wrong merge corrupts every later census)."""
    from candia_spark.operators.curation import bpe_train

    words = ["ab", "ba", "aab", "abb", "bab", "aba", "bba", "baab",
             "abab", "baba", "aabb", "bbaa"]
    rows = [(i, " ".join(words[(i + j) % len(words)] for j in range(6)))
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    local = [tuple(r) for r in
             bpe_train(df, rounds=50, engine="local").collect()]
    dist = [tuple(r) for r in
            bpe_train(df, rounds=50, engine="distributed").collect()]
    assert local == dist
    assert len(local) >= 10  # real merge traffic, not an early dry-out

def test_quality_budget_fill_prefix_semantics(spark):
    """Greedy prefix fill by hand: shard A ranked by (score desc, id)
    is ids 3(40tok),1(30),4(50),2(10); budget 80 keeps 3 and 1
    (cum 40,70), doc 4 overflows (cum 120) and doc 2 — though it WOULD
    fit (cum 80 if backfilled) — is dropped too: the kept set is a
    RANK PREFIX, not a knapsack. Shards fill independently."""
    from candia_spark.operators.curation import quality_budget_fill

    rows = [
        (1, "A", 30, 9),
        (2, "A", 10, 1),
        (3, "A", 40, 12),
        (4, "A", 50, 5),
        (9, "B", 70, 2),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, n_tokens bigint, score_w bigint"
    )
    out = {
        r["doc_id"]: (r["fill_rank"], r["cum_tokens"], r["kept"])
        for r in quality_budget_fill(df, budget_tokens=80).collect()
    }
    assert out == {
        3: (1, 40, 1),
        1: (2, 70, 1),
        4: (3, 120, 0),   # overflows
        2: (4, 130, 0),   # would fit alone — prefix semantics drop it
        9: (1, 70, 1),    # shard B has its own budget
    }
    with pytest.raises(ValueError, match="budget_tokens"):
        quality_budget_fill(df, budget_tokens=0)


def test_quality_budget_fill_no_global_order(spark, sf_smoke):
    """Scale contract (the pack_sequences posture): the fill must never
    plan a single-partition window — shards are the parallelism unit."""
    from candia_spark.operators.curation import quality_budget_fill
    from candia_spark.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "source",
        F.length("text").cast("bigint").alias("n_tokens"),
        (F.col("doc_id") % 7).cast("bigint").alias("score_w"),
    )
    plan = _plan_of(quality_budget_fill(docs, budget_tokens=500))
    assert "SinglePartition" not in plan, plan

def test_strip_boilerplate_null_group_is_its_own_group(spark):
    """ADVICE r11: a NULL group_col used to lose EVERY line (equi-join
    on a NULL key matches nothing -> n_kept=0, clean_text=''). NULL is
    now its own group via null-safe join keys: boilerplate shared by
    the NULL-group docs strips, their unique content survives, and
    other groups are unaffected."""
    from candia_spark.operators.curation import strip_boilerplate_lines

    rows = [
        (1, None, "subscribe now\nalpha unique"),
        (2, None, "subscribe now\nbeta unique"),
        (3, "web", "subscribe now\ngamma unique"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = {
        r.doc_id: r
        for r in strip_boilerplate_lines(df, max_frac=(1, 2)).collect()
    }
    # NULL group: 'subscribe now' hits 2/2 docs -> stripped; content kept
    assert out[1].clean_text == "alpha unique" and out[1].n_kept == 1
    assert out[2].clean_text == "beta unique" and out[2].group is None
    # the 'web' group has one doc; min_docs=2 keeps both its lines
    assert out[3].n_kept == 2 and "gamma unique" in out[3].clean_text


def test_quality_budget_fill_negative_tokens_raises(spark):
    """ADVICE r11: prefix semantics require a monotone running sum, so
    a negative caller-supplied token count must fail loudly instead of
    letting kept=1 rows reappear after an overflow."""
    from candia_spark.operators.curation import quality_budget_fill

    scored = spark.createDataFrame(
        [(1, "a", 10, 5), (2, "a", -3, 4)],
        "doc_id bigint, source string, n_tokens bigint, score_w bigint",
    )
    with pytest.raises(Exception, match="negative n_tokens"):
        quality_budget_fill(scored, budget_tokens=100).collect()


def test_multiclass_classifier_weights_by_hand(spark):
    """Weight formula checked against hand-computed integers on a tiny
    3-class corpus: nb = bits(count) - bits(class_total), weight =
    K*nb - sum_c' nb, dense over vocabulary x labels, zero-sum per
    token."""
    from candia_spark.operators.curation import multiclass_classifier_weights

    rows = [
        ("a", "x x x y"),   # class a: 3 of x, 1 of y -> total 4
        ("b", "y y"),       # class b: 2 of y        -> total 2
        ("c", "x z"),       # class c: 1 x, 1 z      -> total 2
    ]
    df = spark.createDataFrame(rows, "label string, text string")
    got = {
        (r.label, r.tok): r.weight
        for r in multiclass_classifier_weights(df, text_col="text").collect()
    }
    bits = lambda v: len(bin(v)) - 2 if v > 0 else 0  # noqa: E731
    # class totals: a=4 (bits 3), b=2 (bits 2), c=2 (bits 2); S=7; K=3
    nb = {
        ("a", "x"): bits(3) - 3, ("b", "x"): 0 - 2, ("c", "x"): bits(1) - 2,
        ("a", "y"): bits(1) - 3, ("b", "y"): bits(2) - 2, ("c", "y"): 0 - 2,
        ("a", "z"): 0 - 3, ("b", "z"): 0 - 2, ("c", "z"): bits(1) - 2,
    }
    for tok in ("x", "y", "z"):
        tot = sum(nb[(lab, tok)] for lab in "abc")
        for lab in "abc":
            assert got[(lab, tok)] == 3 * nb[(lab, tok)] - tot, (lab, tok)
        assert sum(got[(lab, tok)] for lab in "abc") == 0, tok


def test_multiclass_classifier_predict_argmax_tiebreak_and_fallback(spark):
    """Prediction: exact argmax with ties to the lexicographically
    smallest label; documents with no model features get the fallback
    verdict (every input row gets a verdict, the q97 stance)."""
    from candia_spark.operators.curation import multiclass_classifier_predict

    # hand-built model: tok 'm' votes +5 for both 'aa' and 'ab' (tie),
    # 'n' votes +7 for 'zz'
    w = spark.createDataFrame(
        [("aa", "m", 5), ("ab", "m", 5), ("zz", "m", -10),
         ("aa", "n", -3), ("ab", "n", -4), ("zz", "n", 7)],
        "label string, tok string, weight bigint",
    )
    docs = spark.createDataFrame(
        [(1, "m m"), (2, "n"), (3, "unseen tokens only"), (4, "m n n")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.predicted_label, r.best_score)
        for r in multiclass_classifier_predict(docs, w).collect()
    }
    assert got[1] == ("aa", 10)      # tie aa/ab -> smaller label
    assert got[2] == ("zz", 7)
    assert got[3] == ("und", 0)      # fallback: no model features
    assert got[4] == ("zz", 4)       # 5-3-3=-1(aa), 5-4-4=-3(ab), -10+14=4


def test_multiclass_contrast_pruning_drops_uniform_tokens(spark):
    """min_contrast prunes tokens whose per-class rates are equal (nb
    range 0) while sharply class-conditional tokens survive — the
    feature-selection knob that keeps bits-quantization noise from
    drowning real evidence on long documents."""
    from candia_spark.operators.curation import multiclass_classifier_weights

    # markers appear 3x (bits(3)=2 vs bits(0)=0 -> nb range 2); 'common'
    # appears at the identical rate in both classes -> nb range 0
    rows = [
        ("a", "common common marker_a marker_a marker_a"),
        ("b", "common common marker_b marker_b marker_b"),
    ]
    df = spark.createDataFrame(rows, "label string, text string")
    full = multiclass_classifier_weights(df, text_col="text")
    pruned = multiclass_classifier_weights(df, text_col="text", min_contrast=2)
    assert {r.tok for r in full.select("tok").distinct().collect()} == {
        "common", "marker_a", "marker_b"
    }
    assert {r.tok for r in pruned.select("tok").distinct().collect()} == {
        "marker_a", "marker_b"
    }


def test_multiclass_null_label_raises(spark):
    """A NULL training label would train a NULL class whose argmax
    tie-break diverges cross-engine (the r11 struct-min NULL gotcha) —
    training fails loudly in-plan instead."""
    from candia_spark.operators.curation import multiclass_classifier_weights

    df = spark.createDataFrame(
        [("a", "x y"), (None, "y z")], "label string, text string"
    )
    with pytest.raises(Exception, match="NULL label"):
        multiclass_classifier_weights(df, text_col="text").collect()


def test_gopher_rules_by_hand(spark):
    """Each Gopher rule on a hand fixture: all-pass prose, too-short,
    bullet-heavy but under the 90% line, ellipsis-heavy fail, symbol
    fail, NULL text as empty."""
    from candia_spark.operators.curation import gopher_rules

    rows = [
        (1, "the quick brown fox is one of the good docs and it has "
            "plenty of words to pass"),
        (2, "short doc"),
        (3, "- b1\n- b2\n- b3\nthe only real line is this one of and to"),
        (4, "the line ends with dots...\nanother one here...\n"
            "the third is fine and of to"),
        (5, "### ## # the of and to is " + "w " * 20),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # bounds loosened so the bullet/ellipsis/symbol rules are what the
    # fixture exercises (the '- b1' bullet tokens drag mwl under the
    # Table A1 floor of 3); the defaults themselves are pinned by
    # test_gopher_rules_table_a1_defaults
    out = {
        r.doc_id: r
        for r in gopher_rules(df, min_words=5, min_mwl=2).collect()
    }
    assert out[1].keep == 1
    assert (out[2].r_words, out[2].r_stop, out[2].keep) == (0, 0, 0)
    # 3 bullet lines of 4 = 7.5/10 <= 9/10 -> passes the bullet rule
    assert (out[3].r_bullet, out[3].keep) == (1, 1)
    # 2 ellipsis-ended lines of 3 > 3/10, and 2 '...' symbols / 13 words
    assert (out[4].r_ellipsis, out[4].r_symbol, out[4].keep) == (0, 0, 0)
    assert (out[5].r_symbol, out[5].keep) == (0, 0)
    assert (out[6].n_words, out[6].keep) == (0, 0)  # NULL text -> empty


def test_gopher_rules_table_a1_defaults(spark):
    """The defaults ARE Rae et al. Table A1 (r12 ADVICE): 50..100k
    words, mean word length 3..10, >= 2 of the 8-stopword set —
    a 49-word doc fails r_words at defaults, and 'is'/'are' (not in
    the paper's set) no longer count as stopword hits."""
    from candia_spark.operators.curation import gopher_rules

    body = "good word " * 23  # 46 words, all alphabetic, mwl 4
    rows = [
        (1, body + "the cat has fur"),          # 50 words, the/have? ...
        (2, body + "the cat"),                  # 48 words -> r_words 0
        (3, "is is are are was " + "word " * 50),  # no Table-A1 stopword
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert (out[1].n_words, out[1].r_words) == (50, 1)
    # 'the' alone is 1 distinct hit -> the 8-set floor of 2 not met
    assert out[1].r_stop == 0
    assert (out[2].n_words, out[2].r_words) == (48, 0)
    assert out[3].r_stop == 0  # is/are/was are NOT in the paper's set
    out3 = {
        r.doc_id: r
        for r in gopher_rules(
            df, stopwords=("is", "are", "the")
        ).collect()
    }
    assert out3[3].r_stop == 1  # caller-supplied set is honored


def test_gopher_rules_is_pure_map(spark, sf_smoke):
    """Scale contract (the q44 stance): the whole rule bundle is a map
    over the scan — no exchange, no Python, no join anywhere."""
    from candia_spark.operators.curation import gopher_rules
    from candia_spark.tables import load_table

    plan = _plan_of(gopher_rules(load_table(spark, sf_smoke, "documents")))
    # load_table's single-row-group fan-out (round-robin) is the input's
    # repartition, not the operator's; the operator itself adds NO keyed
    # exchange, no Python, no join
    assert "Exchange hashpartitioning" not in plan
    assert "Python" not in plan
    assert "Join" not in plan


def test_url_dedup_null_urls_are_singletons(spark):
    """NULL urls carry no dedup evidence — each must be its own
    singleton keep group instead of pooling into one fake NULL dup
    group (the window PARTITION BY NULL-pooling footgun)."""
    from candia_spark.operators.curation import url_dedup

    rows = [(1, None), (2, None), (3, "https://ex.com/a")]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r.doc_id: r for r in url_dedup(df).collect()}
    assert out[1].group_size == 1 and out[1].keep and out[1].canonical_url is None
    assert out[2].group_size == 1 and out[2].keep
    assert out[3].keep and out[3].domain == "ex.com"


def test_url_dedup_empty_canonical_urls_are_singletons(spark):
    """URLs that canonicalize to the EMPTY string (fragment-only,
    tracking-only values with no scheme) carry no dedup evidence
    either — they must not pool into one fake '' dup group (r12
    ADVICE: the same footgun class as NULL urls)."""
    from candia_spark.operators.curation import url_dedup

    rows = [
        (1, "#fragment-only"),
        (2, "?utm_source=x"),
        (3, "#other"),
        (4, "https://ex.com/a"),
        (5, "https://ex.com/a#f"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r.doc_id: r for r in url_dedup(df).collect()}
    for i in (1, 2, 3):
        assert out[i].group_size == 1 and out[i].keep, i
        assert out[i].canonical_url == ""
    # real URLs still dedup: 4 and 5 share a canonical
    assert out[4].group_size == 2 and out[4].keep
    assert out[5].group_size == 2 and not out[5].keep


def test_registered_domain_psl_deep_suffixes_and_rejection(spark):
    """r12 ADVICE: the probe depth must come from the LOADED table —
    a 5-label private-section suffix (s3.dualstack.<region>.amazonaws
    .com) must win longest-match over its shorter public tails; and
    unresolved wildcard/exception rows must be rejected loudly."""
    import pytest
    from candia_spark.operators.curation import registered_domain_psl

    psl = spark.createDataFrame(
        [("com",), ("amazonaws.com",),
         ("s3.dualstack.ap-northeast-1.amazonaws.com",)],
        "suffix string",
    )
    rows = [
        (1, "https://bkt.s3.dualstack.ap-northeast-1.amazonaws.com/k"),
        (2, "https://plain.amazonaws.com/x"),
        (3, "https://a.example.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r.doc_id: r.registered_domain
           for r in registered_domain_psl(df, psl).collect()}
    # a hard-coded 4-label probe would have matched only amazonaws.com
    # and called 'ap-northeast-1.amazonaws.com' the registered domain
    assert out == {
        1: "bkt.s3.dualstack.ap-northeast-1.amazonaws.com",
        2: "plain.amazonaws.com",
        3: "example.com",
    }
    bad = spark.createDataFrame(
        [("com",), ("*.ck",), ("!www.ck",)], "suffix string"
    )
    with pytest.raises(ValueError, match="pre-expanded"):
        registered_domain_psl(df, bad)
    with pytest.raises(ValueError, match="empty"):
        registered_domain_psl(df, psl.filter("suffix IS NULL"))


def test_registered_domain_psl_longest_match(spark):
    """PSL-driven eTLD+1: longest matching public suffix wins (seen
    over its shorter suffixes — 'co.uk' must not promote 'co'),
    bare-suffix and no-match hosts get NULL, and the suffix table is
    explicitly broadcast."""
    from candia_spark.operators.curation import registered_domain_psl

    psl = spark.createDataFrame(
        [("com",), ("org",), ("co.uk",), ("com.au",), ("uk",)],
        "suffix string",
    )
    rows = [
        (1, "https://www.example.com/x"),
        (2, "https://a.b.shop.co.uk/y"),      # 'co.uk' beats 'uk'
        (3, "https://deep.sub.site.com.au/z"),
        (4, "https://co.uk/"),                # bare suffix -> NULL
        (5, "https://localhost/x"),           # no match -> NULL
        (6, "https://thing.uk/p"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r.doc_id: r.registered_domain
           for r in registered_domain_psl(df, psl).collect()}
    assert out == {1: "example.com", 2: "shop.co.uk", 3: "site.com.au",
                   4: None, 5: None, 6: "thing.uk"}
    plan = _plan_of(registered_domain_psl(df, psl))
    assert "BroadcastHashJoin" in plan


def test_perplexity_buckets_rank_by_hand(spark):
    """Reference-LM scoring (q84 bits device, OOV = 0) and the exact
    per-language tertile cut: head = most reference-like third."""
    from candia_spark.operators.curation import perplexity_buckets

    ref = spark.createDataFrame(
        [(100, "the common words the common")], "doc_id bigint, text string"
    )
    docs = spark.createDataFrame(
        [(i, "x", t) for i, t in enumerate(
            ["the the common",       # bits 6, mean 2.0 -> rank 1
             "the common rare1",     # bits 4, mean 1.33 -> rank 3
             "common rare1 rare2",   # bits 2, mean 0.67 -> rank 4
             "rare1 rare2 rare3",    # bits 0 -> rank 5 (id tie-break)
             "the words",            # bits 3, mean 1.5 -> rank 2
             "zz qq ww"])],          # bits 0 -> rank 6
        "doc_id bigint, lang string, text string",
    )
    out = {r.doc_id: r for r in perplexity_buckets(
        docs, ref, lang_col="lang").collect()}
    assert [(out[i].total_bits, out[i].bucket) for i in range(6)] == [
        (6, "head"), (4, "middle"), (2, "middle"),
        (0, "tail"), (3, "head"), (0, "tail"),
    ]
    # the shuffle-join open-vocab path computes the same table
    out2 = {r.doc_id: tuple(r) for r in perplexity_buckets(
        docs, ref, lang_col="lang", broadcast_vocab=False).collect()}
    assert out2 == {k: tuple(v) for k, v in out.items()}


def test_perplexity_buckets_per_language_and_empty(spark):
    """Tertiles are cut WITHIN each language; tokenless docs drop (the
    dsir contract); unknown engine raises."""
    import pytest
    from candia_spark.operators.curation import perplexity_buckets

    ref = spark.createDataFrame(
        [(100, "aa aa bb")], "doc_id bigint, text string"
    )
    docs = spark.createDataFrame(
        [(0, "en", "aa aa"), (1, "en", "aa bb"), (2, "en", "zz"),
         (3, "de", "bb"), (4, "de", "aa zz"), (5, "de", "zz zz"),
         (6, "de", "")],
        "doc_id bigint, lang string, text string",
    )
    out = {r.doc_id: r for r in perplexity_buckets(
        docs, ref, lang_col="lang").collect()}
    assert 6 not in out  # empty doc dropped
    assert [out[i].bucket for i in (0, 1, 2)] == ["head", "middle", "tail"]
    assert [out[i].bucket for i in (3, 4, 5)] == ["head", "middle", "tail"]
    with pytest.raises(ValueError, match="engine"):
        perplexity_buckets(docs, ref, engine="exactly")


def test_perplexity_buckets_approx_engine_is_mapside(spark):
    """The deploy path: percentile_approx thresholds + broadcast +
    pure-map bucketing — no Window anywhere in the plan, every doc
    bucketed, and buckets MONOTONE in score (exact boundary placement
    is the rank engine's contract, not this one's)."""
    from candia_spark.operators.curation import perplexity_buckets

    ref = spark.createDataFrame(
        [(100, " ".join(["w%d" % i for i in range(8)] * 3))],
        "doc_id bigint, text string",
    )
    # 6 docs with strictly distinct mean-bits scores (doc i has i+1
    # in-reference tokens and 6-i OOV tokens)
    docs = spark.createDataFrame(
        [(i, "en", " ".join(["w%d" % j for j in range(i + 1)]) +
          " oov" * (6 - i)) for i in range(6)],
        "doc_id bigint, lang string, text string",
    )
    approx = perplexity_buckets(docs, ref, lang_col="lang", engine="approx")
    rows = approx.collect()
    assert len(rows) == 6
    order = {"head": 0, "middle": 1, "tail": 2}
    scored = sorted(
        rows, key=lambda r: -(r.total_bits / r.n_tokens)
    )
    ranks = [order[r.bucket] for r in scored]
    assert ranks == sorted(ranks)  # monotone in score
    assert ranks[0] == 0 and ranks[-1] == 2  # head and tail both occur
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
