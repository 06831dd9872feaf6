"""Physical-plan shape guards: the properties that make these operators
scale must be visible in the plan, not just hoped for — filter pushdown to
the parquet scan, column pruning, broadcast of dimension sides, and the
absence of Python row-at-a-time evaluation in relational paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from candia_spark.tables import load_table

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return str(df._jdf.queryExecution().optimizedPlan())


def test_filter_pushdown_reaches_scan(spark):
    l = load_table(spark, SF, "lineitem")
    q = l.filter(F.col("l_shipdate") <= "1998-09-02").select("l_returnflag")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    l = load_table(spark, SF, "lineitem")
    q = l.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = plan_of(q)
    # ReadSchema carries only the two referenced columns (of 16)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_interval_join_broadcasts_windows(spark):
    """q02's window table must broadcast: the scan table never shuffles
    for the range join."""
    from candia_spark.plans.queries import q02_interval_join

    plan = plan_of(q02_interval_join(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_interval_join_never_shuffles_fact_side(spark):
    """first_window_wins dedup happens on the broadcast dimension side
    (deoverlap_first_wins), so the bare interval join plan contains NO
    hash-partitioned exchange — the only allowed exchanges are the
    dimension broadcast and its single-partition analytic window."""
    from candia_spark.operators.relational import interval_join
    from candia_spark.plans.queries import _price_bands

    l = load_table(spark, SF, "lineitem")
    plan = plan_of(
        interval_join(l, _price_bands(spark), point_col="l_extendedprice")
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


@pytest.mark.slow
def test_relational_queries_have_no_python_udfs(spark):
    """Everything except the grouped numeric kernels and the sequential
    partitioners stays JVM-side (no BatchEvalPython/ArrowEvalPython)."""
    from candia_spark.plans.queries import QUERY_REGISTRY

    python_ok = {
        # grouped-map kernels / order-dependent ops are Arrow-batched by design
        "q20_greedy_ppm_partition",
        "q23_parafac_decompose",
        "q24_time_mode_peaks",
        "q36_multimodal_features",
        # auto-engine self-repetition rewrite: the >=256-block leg is an
        # Arrow pandas UDF by design (the only O(blocks) device — a hash
        # set needs mutable state Catalyst expressions can't express;
        # SCALING_r10 selfrep_long measures both folds quadratic). The
        # row-at-a-time BatchEvalPython ban below still applies.
        "q91_self_repetition_rewrite",
    }
    for name, spec in sorted(QUERY_REGISTRY.items()):
        plan = plan_of(spec.spark(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
        if name in python_ok:
            continue
        assert "ArrowEvalPython" not in plan, f"{name} uses a scalar Python UDF"


def test_whole_stage_codegen_on_hot_path(spark):
    from candia_spark.plans.queries import q01_pricing_summary

    q = q01_pricing_summary(spark, SF)
    q.collect()  # AQE finalizes the physical plan only on execution
    # codegen'd stages render as "*(n) Operator" in the executed plan
    assert "*(1) HashAggregate" in plan_of(q)


def test_q41_fragment_ions_plan_is_jvm_only(spark):
    """Bio scalars stay JVM-side: no Python evaluation anywhere, and the
    only hash exchange is the per-peptide cumsum window (keyed by peptide,
    so it scales with the corpus)."""
    from candia_spark.plans.queries import q41_fragment_ions

    plan = plan_of(q41_fragment_ions(spark, SF))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q42_embedding_dups_no_cartesian(spark):
    """Vector near-dup pairs must pair inside LSH buckets via an equi-join
    — never a cartesian/theta join over the corpus — and verify cosine on
    candidates only, with zero Python in the plan."""
    from candia_spark.plans.queries import q42_embedding_dups

    plan = plan_of(q42_embedding_dups(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    # bucket equi-join present (broadcast at this scale; SMJ at corpus scale)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_minhash_pair_shuffles_carry_no_signatures(spark):
    """The LSH bucket self-join and pair aggregation must move only
    (id, band) / (id_a, id_b) rows; the k-long minhash signature arrays
    join back AFTER the pair agg (broadcast at this scale). A sig column
    inside any exchange or aggregate is the shuffle-mass regression this
    pins against."""
    from candia_spark.operators.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(load_table(spark, SF, "documents"))
    plan = plan_of(df)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln or "HashAggregate" in ln:
            assert "sig" not in ln, ln


def test_jaccard_verify_uses_array_intersect(spark):
    """Candidate verification must be the set-array form (one
    array_intersect per pair), not the pair-times-postings explode join."""
    from candia_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        shingle_index,
    )

    docs = load_table(spark, SF, "documents")
    idx = shingle_index(docs, n=2)
    cands = minhash_lsh_pairs(docs, index=idx)
    out = ngram_jaccard_pairs(docs, threshold=0.7, candidates=cands, index=idx)
    plan = optimized_of(out)
    assert "array_intersect" in plan


def test_q44_repetition_is_pure_map(spark):
    """Repetition metrics must be a projection+filter over the scan — any
    Generate (explode) or Exchange here would be the per-token shuffle
    this operator exists to avoid at corpus scale."""
    from candia_spark.plans.queries import q44_repetition_metrics

    plan = plan_of(q44_repetition_metrics(spark, SF))
    body = plan.split("Scan parquet")[0]  # shapes above the scan only
    assert "Generate" not in body
    assert "Exchange hashpartitioning" not in body
    assert "Python" not in body


def test_q45_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast (eval suites are tiny next
    to the corpus); the corpus side stays map-side until the per-doc
    overlap count — exactly one hash-partition exchange (the groupBy)."""
    from candia_spark.plans.queries import q45_decontaminate

    plan = plan_of(q45_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus must never shuffle to join
    # the only corpus-side hash exchange is the per-doc overlap count
    # (the benchmark side may exchange freely inside its broadcast build)
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


def test_q85_contamination_spans_broadcasts_benchmark(spark):
    """Same stance as q45: the benchmark shingle set broadcasts, the
    corpus side never sort-merge-joins, and there is no join-back corpus
    scan for n_tokens (it rides the probe rows — exactly one per-doc
    hash exchange, the coverage count)."""
    from candia_spark.plans.queries import q85_contamination_spans

    plan = plan_of(q85_contamination_spans(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the distinct-position count plans as the standard two-phase
    # distinct aggregate: one exchange on (doc_id, position) to dedupe
    # covered positions, one on doc_id for the final count — both over
    # the bounded MATCHED mass, never the corpus
    assert plan.count("Exchange hashpartitioning(doc_id") == 2


def test_q86_bigram_assoc_unigram_side_broadcasts(spark):
    """The unigram cost map collapses to ONE broadcast row (q84's
    device): after the materialized per-doc score table, the corpus-mean
    flag join is broadcast-only — no hash exchange downstream of the
    localCheckpoint scan. (The bigram census join upstream MAY shuffle:
    bigram vocabulary is Heaps-unbounded by design.)"""
    from candia_spark.operators.curation import bigram_assoc

    rows = [(i, "A", "tok a b c d e") for i in range(1, 8)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    plan = plan_of(bigram_assoc(df))
    tail = plan.split("ExistingRDD")[0]
    assert "Exchange hashpartitioning" not in tail
    assert "BroadcastNestedLoopJoin" in tail or "BroadcastHashJoin" in tail


def test_bigram_assoc_open_vocab_has_no_map_agg(spark, monkeypatch):
    """Advice r9 #2: broadcast_unigrams=False must not collapse the
    unigram census into a single map row anywhere in the plan — the
    word costs ride keyed joins instead, so an open-vocabulary corpus
    never funnels its vocabulary through one driver-sized row.
    materialize.cut is patched to identity so the full scoring plan
    (normally cut by the localCheckpoint) is visible."""
    from candia_spark.operators import materialize
    from candia_spark.operators.curation import bigram_assoc

    monkeypatch.setattr(materialize, "cut", lambda df, *metrics: (df, {}))
    rows = [(i, "A", "tok a b c d e") for i in range(1, 8)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    plan = optimized_of(bigram_assoc(df, broadcast_unigrams=False))
    assert "map_from_entries" not in plan
    assert "collect_list" not in plan
    # sanity: the same patched lens DOES see the map agg on the default
    # path — the device the fallback exists to avoid
    plan_default = optimized_of(bigram_assoc(df))
    assert "map_from_entries" in plan_default


def test_q87_cluster_safe_split_labeling_join_is_narrow(spark):
    """The member-labeling join carries bare ids only: no text column in
    any exchange (8-byte corpus rows), and the audit is two keyed
    aggregations — no window, no cartesian."""
    from candia_spark.plans.queries import q87_cluster_safe_split

    plan = plan_of(q87_cluster_safe_split(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln, ln


def test_q46_sampling_is_single_agg_pass(spark):
    """The stratified audit is ONE aggregation over the scan: total and
    sampled counts share the same partial agg (no join of two groupBys,
    no second scan)."""
    from candia_spark.plans.queries import q46_stratified_sample

    plan = plan_of(q46_stratified_sample(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_q96_dsir_bigram_plan_stays_jvm_side(spark):
    """The hashed-bigram DSIR chain (q96) must plan with zero Python
    nodes and no cartesian products: feature extraction is a zip_with +
    md5/conv transform inside codegen, the censuses are keyed
    aggregations, and the scoring join is a keyed shuffle join."""
    from candia_spark.operators.curation import dsir_select

    docs = load_table(spark, SF, "documents")
    target = docs.filter(F.col("source") == "src0")
    plan = plan_of(dsir_select(docs, target, ngram=2, buckets=65536))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_q97_quality_scorer_plan_shape(spark):
    """The quality-classifier scorer (q97): the model side of the
    scoring join broadcasts (it is bounded by buckets), and the whole
    train+score chain is JVM-side with no cartesian products."""
    from candia_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_weights,
    )

    docs = load_table(spark, SF, "documents")
    pos = docs.filter(F.col("source") == "src0")
    neg = docs.filter(F.col("source") != "src0")
    w = quality_classifier_weights(pos, neg, buckets=4096)
    plan = plan_of(quality_classifier_score(docs, w, buckets=4096))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_q98_boilerplate_plan_shape(spark):
    """Boilerplate line removal (q98): the per-group doc census
    broadcasts, everything is JVM-side, no cartesian products, and the
    rebuild's collect_list aggregation is keyed on the doc id (no
    single-partition window — a global sort would serialize the corpus
    at 100 TB)."""
    from candia_spark.operators.curation import strip_boilerplate_lines

    docs = load_table(spark, SF, "documents").withColumn(
        "text", F.concat(F.lit("h\n"), F.col("text"), F.lit("\nf"))
    )
    plan = plan_of(strip_boilerplate_lines(docs))
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_q101_phash_band_join_shape(spark):
    """Image pHash near-dedup (q101): after the one Arrow hashing pass
    (cut by materialize.cut), everything downstream is JVM-side — the
    candidate stage is a band-keyed equi self-join (never a cartesian
    product), and the Hamming verify is xor/bit_count expressions, no
    Python eval anywhere in the post-hash plan."""
    from candia_spark.operators.multimodal import phash_near_dups

    docs = load_table(spark, SF, "documents")
    imgs = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    plan = plan_of(phash_near_dups(imgs, max_hamming=6))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan  # hashing is behind the checkpoint cut
    # the candidate stage is an equi-join KEYED ON the band column —
    # broadcast at this scale, shuffled-hash/sort-merge at corpus scale;
    # either way the key set is [band], never an unkeyed product
    import re

    assert re.search(r"HashJoin \[band#\d+\], \[band#\d+\]", plan), plan


def test_q100_exact_substring_plan_shape(spark):
    """Exact-substring rewrite (q100): everything downstream of the one
    materialized tokenize is JVM-side keyed work — gram-keyed owner
    census join, (id, pos)-keyed anti join, id-keyed rebuild agg; no
    cartesian product, no Python eval, no single-partition window
    anywhere (a global sort would serialize the corpus at 100 TB)."""
    from candia_spark.operators.dedup import exact_substring_dedup

    docs = load_table(spark, SF, "documents")
    plan = plan_of(exact_substring_dedup(docs, k=8))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "SinglePartition" not in plan
    assert "LeftAnti" in plan  # covered positions leave via anti join


def test_q102_multiclass_plan_shape(spark):
    """Multi-class classifier (q102): the dense model build's cross
    join is broadcast-sized (BroadcastNestedLoopJoin over the K-row
    label set — never a CartesianProduct over data), the scoring join
    against the model is an explicit broadcast hash join, and the
    whole chain is JVM-side."""
    from candia_spark.operators.curation import (
        multiclass_classifier_predict,
        multiclass_classifier_weights,
    )

    docs = load_table(spark, SF, "documents")
    w = multiclass_classifier_weights(
        docs, label_col="lang", buckets=4096, min_contrast=3
    )
    plan = plan_of(multiclass_classifier_predict(docs, w, buckets=4096))
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan
