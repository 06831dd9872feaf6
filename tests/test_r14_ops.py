"""Round-14: ADVICE closures (blocklist phrase normalization, raw-label
hard negatives, WET fixed-terminator trim + malformed-preserving writer),
the q15/q40 limit-then-rank top-k plans, the k-means-trained PQ codebook
chain, the PSL loader, and the registry-wide bounded-window plan sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from candia_spark.operators.curation import blocklist_filter
from candia_spark.operators.similarity import mine_hard_negatives


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- blocklist phrase normalization (r13 ADVICE #1) -------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_blocklist_punctuated_phrase_matches(spark):
    # 'x-rated' normalizes to 'x rated' and must match a document whose
    # own normalization produces the same form — the real C4 blocklist
    # contains punctuated entries, which the pre-fix code could NEVER
    # match (phrases were only lowercased/space-collapsed).
    df = _docs(
        spark,
        [
            (1, "an X.Rated page"),
            (2, "unrated content"),
            (3, "slowly moving train"),
            (4, "a SLOW day"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in blocklist_filter(df, ["x-rated", "slow"]).collect()
    }
    assert out[1]["blocked"] and out[1]["first_hit"] == "x rated"
    assert not out[2]["blocked"]
    assert not out[3]["blocked"]  # word boundary: 'slow' not in 'slowly'
    assert out[4]["blocked"] and out[4]["first_hit"] == "slow"


def test_blocklist_phrases_dedupe_after_normalization(spark):
    # 'X RATED', 'x-rated', 'x  rated' are ONE normalized phrase —
    # n_hits counts distinct normalized phrases, so exactly 1 here.
    df = _docs(spark, [(1, "some x rated stuff")])
    out = blocklist_filter(df, ["X RATED", "x-rated", "x  rated"]).collect()
    assert out[0]["n_hits"] == 1 and out[0]["first_hit"] == "x rated"


def test_blocklist_first_hit_sorted_on_normalized_forms(spark):
    # sort happens AFTER normalization: 'Apple!' -> 'apple' precedes
    # 'zebra' even though the raw strings sort ('Apple!' < 'zebra' holds
    # too, but 'x-ray' vs 'xenon' flips: '-' < 'e' raw, ' ' boundary
    # normalized).
    df = _docs(spark, [(1, "apple and zebra"), (2, "x-ray or xenon")])
    out = {
        r["doc_id"]: r
        for r in blocklist_filter(
            df, ["zebra", "Apple!", "xenon", "x-ray"]
        ).collect()
    }
    assert out[1]["first_hit"] == "apple"
    assert out[2]["first_hit"] == "x ray"  # normalized 'x ray' < 'xenon'


def test_blocklist_phrase_without_alphanumerics_raises(spark):
    df = _docs(spark, [(1, "anything")])
    with pytest.raises(ValueError, match="normalizes to empty"):
        blocklist_filter(df, ["!!!"])


# --- hard negatives: raw-label comparison (r13 ADVICE #2) -------------------


def test_hard_negatives_string_labels_exclude_positives(spark):
    # With string labels the pre-fix one-sided bigint cast NULLed every
    # corpus label, making ~eqNullSafe(NULL, 'cat') true — same-label
    # POSITIVES leaked in as negatives. Raw-label comparison must
    # exclude them.
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "cat"),
            (2, [0.9, 0.1], "cat"),   # same label as the query: positive
            (3, [0.8, 0.2], "dog"),
            (4, [0.0, 1.0], "bird"),
        ],
        "vec_id bigint, embedding array<float>, label string",
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0], "cat")],
        "query_id bigint, embedding array<float>, label string",
    )
    out = mine_hard_negatives(corpus, q, k=3).collect()
    got = {(r["neg_id"], r["label"]) for r in out}
    assert got == {(3, "dog"), (4, "bird")}
    # label column keeps the corpus type (string), ranked by score
    by_rank = sorted(out, key=lambda r: r["rank"])
    assert [r["neg_id"] for r in by_rank] == [3, 4]


# --- WET fixed-terminator trim + malformed-preserving writer ---------------


def test_wet_newline_terminated_payload_round_trips(spark, tmp_path):
    from candia_spark.sources.adapters import (
        read_wet_records,
        write_wet_records,
    )

    rows = [
        ("<urn:uuid:n1>", "http://a/", "2020-01-01T00:00:00Z",
         "ends with one newline\n"),
        ("<urn:uuid:n2>", "http://b/", "2020-01-01T00:00:00Z",
         "ends with two\n\n"),
        ("<urn:uuid:n3>", "http://c/", "2020-01-01T00:00:00Z",
         "ends with crlf\r\n"),
        ("<urn:uuid:n4>", "http://d/", "2020-01-01T00:00:00Z",
         "no trailing newline"),
    ]
    df = spark.createDataFrame(
        rows, "record_id string, target_uri string, warc_date string, "
        "text string"
    )
    p = str(tmp_path / "wetnl")
    write_wet_records(df, p)
    got = {r["record_id"]: r for r in read_wet_records(spark, p).collect()}
    for rid, _, _, text in rows:
        assert got[rid]["text"] == text, rid
        assert got[rid]["content_length"] == len(text.encode()), rid


def test_wet_preserve_malformed_carries_blocks_through_rewrite(
    spark, tmp_path
):
    from candia_spark.sources.adapters import (
        read_wet_records,
        write_wet_records,
    )

    src = tmp_path / "src.wet"
    src.write_text(
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Record-ID: <urn:uuid:ok>\r\n"
        "WARC-Target-URI: http://ok/\r\n"
        "WARC-Date: 2020-01-01T00:00:00Z\r\n"
        "Content-Length: 4\r\n\r\ngood\r\n"
        "WARC/1.0\r\nheaderless block kept byte-faithful\r\n"
    )
    first = read_wet_records(spark, str(src), keep_raw=True)
    rows = first.collect()
    assert sum(r["_malformed"] for r in rows) == 1
    assert all(r["_raw"] is None for r in rows if not r["_malformed"])
    dst = str(tmp_path / "rewritten")
    write_wet_records(first, dst, preserve_malformed=True)
    again = read_wet_records(spark, dst).collect()
    good = [r for r in again if not r["_malformed"]]
    bad = [r for r in again if r["_malformed"]]
    assert len(good) == 1 and good[0]["text"] == "good"
    assert len(bad) == 1  # still routed malformed, bytes carried through
    raw2 = read_wet_records(spark, dst, keep_raw=True).collect()
    kept = [r["_raw"] for r in raw2 if r["_malformed"]][0]
    assert "headerless block kept byte-faithful" in kept


def test_wet_preserve_malformed_requires_raw_columns(spark, tmp_path):
    from candia_spark.sources.adapters import write_wet_records

    df = spark.createDataFrame(
        [("<u:1>", "http://x/", "2020-01-01T00:00:00Z", "t")],
        "record_id string, target_uri string, warc_date string, text string",
    )
    with pytest.raises(ValueError, match="preserve_malformed"):
        write_wet_records(df, str(tmp_path / "w"), preserve_malformed=True)


# --- q15/q40 top-k plans: TakeOrderedAndProject, no census-global window ----


def test_topk_queries_use_take_ordered_not_global_window(spark, sf_smoke):
    from candia_spark.plans.queries import QUERY_REGISTRY

    for name in ("q15_count_distinct_argmax", "q40_heavy_hitters"):
        plan = _plan_of(QUERY_REGISTRY[name].spark(spark, sf_smoke))
        assert "TakeOrderedAndProject" in plan, name
    # q40 ranks only the post-limit 10-row frame; its window must sit
    # ABOVE the TakeOrderedAndProject in the plan tree (appear earlier
    # in the top-down string dump).
    plan40 = _plan_of(
        QUERY_REGISTRY["q40_heavy_hitters"].spark(spark, sf_smoke)
    )
    assert plan40.index("Window") < plan40.index("TakeOrderedAndProject")


# --- k-means-trained PQ codebook chain (q122) -------------------------------


def _emb(spark, sf_smoke):
    from candia_spark.tables import load_table

    return load_table(spark, sf_smoke, "embeddings").select(
        "vec_id", "embedding"
    )


def test_pq_kmeans_codebook_shape(spark, sf_smoke):
    from candia_spark.operators.similarity import pq_codebook_kmeans

    cb = pq_codebook_kmeans(_emb(spark, sf_smoke), m=8, codewords=16, iters=2)
    rows = cb.collect()
    assert len(rows) <= 8 * 16  # empty codewords may drop out
    assert {r["sub"] for r in rows} == set(range(8))
    for r in rows:
        assert len(r["cw"]) == 8  # 64-dim / m=8
        assert all(isinstance(x, int) for x in r["cw"])
        assert all(-127 <= x <= 127 for x in r["cw"])  # means of int8 lanes


def test_pq_kmeans_trained_ivf_nprobe_all_equals_flat(spark, sf_smoke):
    import numpy as np

    from candia_spark.operators.similarity import (
        pq_codebook_kmeans,
        pq_topk_adc,
        pq_topk_ivf,
    )
    from candia_spark.plans.ivf_pinned import PINNED_CENTROIDS_8x64

    emb = _emb(spark, sf_smoke)
    cb = pq_codebook_kmeans(emb, m=8, codewords=16, iters=2)
    qs = emb.filter(F.col("vec_id") % 47 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = np.array(PINNED_CENTROIDS_8x64, dtype=np.float64)
    # probing every cell removes the only approximation IVF adds on top
    # of the trained-codebook ADC scoring — exact set equality required
    full = {
        tuple(r)
        for r in pq_topk_ivf(
            emb, qs, cent, k=5, nprobe=8, codebook=cb
        ).collect()
    }
    flat = {
        tuple(r) for r in pq_topk_adc(emb, qs, k=5, codebook=cb).collect()
    }
    assert full == flat and len(flat) > 0


def test_pq_kmeans_trained_codebook_reduces_distortion(spark, sf_smoke):
    # Lloyd's from the first-k seeds must not INCREASE total encode
    # distortion vs the first-k codebook itself (the q116 stub) — the
    # "trainer actually trains" check. Distortion = sum over (vec, sub)
    # of the L2 to the assigned codeword.
    from candia_spark.operators.similarity import (
        pq_codebook_first_k,
        pq_codebook_kmeans,
        pq_encode,
        quantize_int8,
    )

    emb = _emb(spark, sf_smoke)

    def distortion(cb):
        q = quantize_int8(emb, "embedding", "vec_id", 127)
        enc = pq_encode(emb, cb)
        subs = q.select(
            "vec_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda s: F.struct(
                        s.cast("bigint").alias("sub"),
                        F.slice("qvec", s * 8 + 1, 8).alias("sv"),
                    ),
                )
            ).alias("__e"),
        ).select(
            "vec_id",
            F.col("__e.sub").alias("sub"),
            F.col("__e.sv").alias("sv"),
        )
        joined = subs.join(enc, ["vec_id", "sub"]).join(
            F.broadcast(cb), ["sub", "code"]
        )
        d = F.aggregate(
            F.zip_with("sv", "cw", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        )
        return joined.agg(F.sum(d).alias("t")).collect()[0]["t"]

    trained = distortion(pq_codebook_kmeans(emb, m=8, codewords=16, iters=2))
    stub = distortion(pq_codebook_first_k(emb, m=8, codewords=16))
    assert trained <= stub


def test_pq_kmeans_validates_args(spark, sf_smoke):
    from candia_spark.operators.similarity import pq_codebook_kmeans

    with pytest.raises(ValueError, match="positive"):
        pq_codebook_kmeans(_emb(spark, sf_smoke), m=0)
    with pytest.raises(ValueError, match="positive"):
        pq_codebook_kmeans(_emb(spark, sf_smoke), iters=0)


# --- PSL loader (r13 VERDICT missing #3) ------------------------------------


_PSL_SNIPPET = [
    "// this is a comment line",
    "",
    "// ===BEGIN ICANN DOMAINS===",
    "com",
    "uk",
    "co.uk  // trailing comment token ignored (rule = first token)",
    "*.ck",
    "!www.ck",
    "// ===BEGIN PRIVATE DOMAINS===",
    "s3.dualstack.eu-west-1.amazonaws.com",
]


def _psl_hosts(spark, hosts):
    return spark.createDataFrame([(h,) for h in hosts], "host string")


def test_load_psl_sections_comments_and_plain_rules(spark):
    from candia_spark.operators.curation import load_psl

    hosts = _psl_hosts(spark, ["this.that.ck"])
    got = {
        (r["suffix"], r["section"])
        for r in load_psl(spark, lines=_PSL_SNIPPET, hosts=hosts).collect()
    }
    assert ("com", "icann") in got
    assert ("co.uk", "icann") in got
    assert ("s3.dualstack.eu-west-1.amazonaws.com", "private") in got
    # wildcard base emitted; exception NOT emitted; census label expanded
    assert ("ck", "icann") in got
    assert ("that.ck", "icann") in got
    assert not any(s == "www.ck" for s, _ in got)
    assert not any("*" in s or "!" in s for s, _ in got)


def test_load_psl_canonical_vectors_drive_the_operator(spark):
    # the publicsuffix.org canonical cases, end to end through
    # registered_domain_psl: co.uk, *.ck/!www.ck, 5-label private suffix
    from candia_spark.operators.curation import (
        load_psl,
        registered_domain_psl,
    )

    rows = [
        (1, "https://www.b.co.uk/x"),
        (2, "https://this.that.ck/y"),        # *.ck: that.ck is a suffix
        (3, "https://x.www.ck/z"),            # !www.ck: registrable
        (4, "https://www.ck/"),
        (5, "https://bkt.s3.dualstack.eu-west-1.amazonaws.com/k"),
        (6, "https://co.uk/"),                # bare suffix: NULL
        (7, "https://ck/"),                   # bare wildcard base: NULL
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    from candia_spark.functions.text import url_host

    hosts = df.select(url_host("url").alias("host"))
    psl = load_psl(spark, lines=_PSL_SNIPPET, hosts=hosts)
    got = {
        r["doc_id"]: r["registered_domain"]
        for r in registered_domain_psl(df, psl).collect()
    }
    assert got == {
        1: "b.co.uk",
        2: "this.that.ck",
        3: "www.ck",
        4: "www.ck",
        5: "bkt.s3.dualstack.eu-west-1.amazonaws.com",
        6: None,
        7: None,
    }


def test_load_psl_wildcards_without_hosts_raise(spark):
    from candia_spark.operators.curation import load_psl

    with pytest.raises(ValueError, match="wildcard"):
        load_psl(spark, lines=["*.ck"])
    # no wildcards -> hosts not needed
    out = load_psl(spark, lines=["com", "co.uk"]).collect()
    assert {r["suffix"] for r in out} == {"com", "co.uk"}
    with pytest.raises(ValueError, match="exactly one"):
        load_psl(spark)


def test_load_psl_composes_into_domain_cap(spark):
    # the q107 composition on the PSL-true domain: cap_per_source keyed
    # on registered_domain_psl output — 'a.co.uk' and 'b.co.uk' are
    # DIFFERENT domains (the naive two-label rule would merge them into
    # 'co.uk' and cap them jointly)
    from candia_spark.functions.text import url_host
    from candia_spark.operators.curation import (
        cap_per_source,
        load_psl,
        registered_domain_psl,
    )

    rows = [(i, f"https://{h}/p/{i}") for i, h in enumerate(
        ["x.a.co.uk", "y.a.co.uk", "z.a.co.uk", "x.b.co.uk", "y.b.co.uk"]
    )]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    psl = load_psl(
        spark, lines=["uk", "co.uk"],
        hosts=df.select(url_host("url").alias("host")),
    )
    domains = registered_domain_psl(df, psl)
    capped = cap_per_source(
        domains.select("doc_id", "registered_domain"),
        cap=2,
        source_col="registered_domain",
    )
    per = {}
    for r in capped.collect():
        per.setdefault(r["registered_domain"], 0)
        per[r["registered_domain"]] += 1
    assert per == {"a.co.uk": 2, "b.co.uk": 2}


# --- phash banding recall contract (r13 VERDICT advice #2/#6) ---------------


def test_phash_banding_recall_contract_distance5(spark):
    # A planted pair at EXACT Hamming distance 5 with one flipped bit in
    # every 16-bit band: the default n_bands=4 banding (pigeonhole-
    # complete only to distance 3) misses it by construction; n_bands=8
    # (8-bit bands, complete to 7) must find it. Grid: 72 one-byte
    # cells, bit(r,c) = cell(r,c) > cell(r,c+1); flipping cell (r,0)
    # flips exactly bit (r,0), so rows {0,1,2,4,6} put >=1 flip in each
    # 2-row 16-bit band while leaving rows 3/5/7's 8-bit bands intact.
    from candia_spark.operators.multimodal import phash_near_dups

    base = bytes(100 if c % 2 == 0 else 50 for _ in range(8) for c in range(9))
    mod = bytearray(base)
    for r in (0, 1, 2, 4, 6):
        mod[r * 9] = 40
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytes(mod))],
        "doc_id bigint, payload binary",
    )
    found8 = phash_near_dups(df, max_hamming=6, n_bands=8).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in found8] == [
        (1, 2, 5)
    ]
    assert phash_near_dups(df, max_hamming=6, n_bands=4).collect() == []
    with pytest.raises(ValueError, match="n_bands"):
        phash_near_dups(df, n_bands=5).collect()


# --- registry-wide bounded-window plan sweep (r13 VERDICT next #1) ----------


# Unpartitioned windows that are CENSUS-bounded by construction: the
# window's input is a dimension-table- or bucket-census-sized frame,
# never the corpus. Every entry must still exhibit an unpartitioned
# window (the test fails on stale rows so the list stays honest).
_CENSUS_BOUNDED_WINDOWS = {
    "q02_interval_join": "window over the SWATH interval dim table "
    "(dozens of rows, broadcast material)",
    "q03_window_adjust": "lead/lag over the sorted distinct-window census",
    "q07_model_spectrum_index": "ordinal id assignment over the "
    "model-index census (distinct swath x rt x ncomp)",
    "q61_quality_percentiles": "cumulative sum over the <=buckets+1-row "
    "bucket census (score_percentiles' documented device)",
    "q74_decile_split_audit": "same score_percentiles bucket-census window",
    "q126_curriculum_order": "same score_percentiles bucket-census window "
    "(the stage picker); the ordering windows partition by (stage, shard)",
}

_LIMIT_NODES = {
    "GlobalLimit", "LocalLimit", "TakeOrderedAndProject", "CollectLimit",
    "Limit",
}


def _walk_jvm_plan(node):
    yield node
    ch = node.children()
    for i in range(ch.length()):
        yield from _walk_jvm_plan(ch.apply(i))


@pytest.mark.slow
def test_registry_has_no_unbounded_global_windows(spark, sf_smoke):
    """The r13 q15/q40 lesson, made structural: an unpartitioned Window
    moves its WHOLE input to one task, so every one in the registry must
    sit on a provably bounded frame — a limit (TakeOrderedAndProject /
    GlobalLimit) below it in the plan, or a documented census-sized
    input. Any new census-global row_number/percent_rank fails here
    before it can ship."""
    from candia_spark.plans.queries import QUERY_REGISTRY

    offenders = []
    seen_unpartitioned = set()
    for name, spec in QUERY_REGISTRY.items():
        plan = (
            spec.spark(spark, sf_smoke)
            ._jdf.queryExecution()
            .optimizedPlan()
        )
        for node in _walk_jvm_plan(plan):
            if node.nodeName() != "Window":
                continue
            if not node.partitionSpec().isEmpty():
                continue
            seen_unpartitioned.add(name)
            bounded = any(
                n.nodeName() in _LIMIT_NODES for n in _walk_jvm_plan(node)
            )
            if not bounded and name not in _CENSUS_BOUNDED_WINDOWS:
                offenders.append(name)
    assert not offenders, (
        "unpartitioned Window over an unbounded frame (single-task choke "
        f"at scale) in: {sorted(set(offenders))} — bound it with "
        "orderBy().limit(k) (the q40 device) or document the census"
    )
    stale = set(_CENSUS_BOUNDED_WINDOWS) - seen_unpartitioned
    assert not stale, (
        f"allowlist rows no longer needed (keep the list honest): {stale}"
    )


# --- trained IVFADC (q124) and ANN recall audit (q125) ----------------------


def test_kmeans_probe_top1_equals_assignment(spark, sf_smoke):
    # probing the corpus's own vectors with nprobe=1 must reproduce
    # each vector's assigned cluster: cells and probes rank against
    # the SAME trained centroid table under one total order.
    from candia_spark.operators.clustering import (
        kmeans_assign,
        kmeans_centroids,
        kmeans_probe_cells,
    )

    emb = _emb(spark, sf_smoke)
    assign = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(emb, k=8, iters=2, scale=1000).collect()
    }
    cent = kmeans_centroids(emb, k=8, iters=2, scale=1000)
    probed = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_probe_cells(
            emb, cent, nprobe=1, scale=1000, id_col="vec_id"
        ).collect()
    }
    assert probed == assign
    with pytest.raises(ValueError, match="nprobe"):
        kmeans_probe_cells(emb, cent, nprobe=0)


def test_trained_ivfadc_nprobe_all_equals_flat(spark, sf_smoke):
    from candia_spark.operators.similarity import (
        pq_codebook_kmeans,
        pq_topk_adc,
        pq_topk_ivf_trained,
    )

    emb = _emb(spark, sf_smoke)
    qs = emb.filter(F.col("vec_id") % 67 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq_codebook_kmeans(emb, m=8, codewords=16, iters=2)
    # probing every trained cell removes the only approximation the
    # coarse layer adds on top of the trained-codebook ADC scoring
    full = {
        tuple(r)
        for r in pq_topk_ivf_trained(
            emb, qs, k=5, nprobe=8, coarse_k=8, codebook=cb
        ).collect()
    }
    flat = {
        tuple(r) for r in pq_topk_adc(emb, qs, k=5, codebook=cb).collect()
    }
    assert full == flat and len(flat) > 0


def test_ann_recall_audit_by_hand(spark):
    from candia_spark.operators.retrieval import ann_recall_audit

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        "query_id bigint, vec_id bigint",
    )
    approx = spark.createDataFrame(
        # q1: both right; q2: one right one wrong; q3: none right
        [(1, 10), (1, 11), (2, 21), (2, 99), (3, 98), (3, 97)],
        "query_id bigint, vec_id bigint",
    )
    out = {
        r["query_id"]: (r["n_true"], r["n_overlap"], r["recall"])
        for r in ann_recall_audit(truth, approx, k=2).collect()
    }
    assert out == {1: (2, 2, 1.0), 2: (2, 1, 0.5), 3: (2, 0, 0.0)}
    with pytest.raises(ValueError, match="k must be positive"):
        ann_recall_audit(truth, approx, k=0)


# --- curriculum ordering (q126) ----------------------------------------------


def test_curriculum_order_stages_and_determinism(spark):
    from candia_spark.operators.curation import curriculum_order

    docs = spark.createDataFrame(
        [(i, i / 10.0) for i in range(1, 9)], "doc_id bigint, s double"
    )
    out = curriculum_order(
        docs, F.col("s"), n_stages=4, n_shards=2, salt="e0"
    ).collect()
    stages = {r["doc_id"]: r["stage"] for r in out}
    # exact population quartiles of 8 distinct scores: two docs/stage,
    # easy (low score) first
    assert stages == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 3, 8: 3}
    hard = curriculum_order(
        docs, F.col("s"), n_stages=4, n_shards=2, salt="e0", hard_first=True
    ).collect()
    assert {r["doc_id"]: r["stage"] for r in hard} == {
        k: 3 - v for k, v in stages.items()
    }
    # pure function of (census, id, salt): re-run reproduces every slot
    again = curriculum_order(
        docs, F.col("s"), n_stages=4, n_shards=2, salt="e0"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a new salt keeps stages (score-derived) but may re-draw the
    # within-stage permutation
    other = curriculum_order(
        docs, F.col("s"), n_stages=4, n_shards=2, salt="e1"
    ).collect()
    assert {r["doc_id"]: r["stage"] for r in other} == stages
    # positions are dense 0..n-1 within every (stage, shard)
    slots = {}
    for r in out:
        slots.setdefault((r["stage"], r["shard"]), []).append(r["pos"])
    for unit, ps in slots.items():
        assert sorted(ps) == list(range(len(ps))), unit
    with pytest.raises(ValueError, match="positive"):
        curriculum_order(docs, F.col("s"), n_stages=0)
