"""Round-15: ADVICE closures (single coarse training + cell/probe
consistency in trained IVFADC, kmeans_centroids schema contract,
recall-audit dedup, LF-only WET terminators, per-row WET gate keys),
the blocklist broadcast-join engine, residual-encoded IVFADC (q127),
the capstone pretrain-assembly chain (q128), and the IVF cell-balance
guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- kmeans_centroids schema contract (r14 ADVICE #2) ------------------------


def test_kmeans_centroids_schema_is_documented_contract(spark):
    # iters >= 2 routes through _recenter, which carries the internal
    # __smax/__qmax overflow-guard columns — they must NOT leak into
    # persisted centroid tables.
    from candia_spark.operators.clustering import kmeans_centroids

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    for iters in (1, 2, 3):
        cent = kmeans_centroids(emb, k=3, iters=iters)
        assert cent.columns == ["cluster", "sv", "n"], iters


# --- ann_recall_audit duplicate rows / short truth lists (r14 ADVICE #3) -----


def test_ann_recall_audit_duplicates_do_not_inflate(spark):
    from candia_spark.operators.retrieval import ann_recall_audit

    truth = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 11), (2, 20)],  # dup (1, 11)
        "query_id bigint, vec_id bigint",
    )
    approx = spark.createDataFrame(
        [(1, 11), (1, 11), (1, 99), (2, 20), (2, 20)],  # dups both queries
        "query_id bigint, vec_id bigint",
    )
    got = {
        r["query_id"]: r for r in ann_recall_audit(truth, approx, k=2).collect()
    }
    # query 1: distinct truth {10, 11}, overlap {11} -> 2 / 1 / 0.5
    assert got[1]["n_true"] == 2
    assert got[1]["n_overlap"] == 1
    assert got[1]["recall"] == 0.5
    # query 2: truth list shorter than k (corpus smaller than k) — n_true
    # reports the actual list length; recall still divides by the
    # REQUESTED k (documented contract)
    assert got[2]["n_true"] == 1
    assert got[2]["n_overlap"] == 1
    assert got[2]["recall"] == 0.5


# --- LF-only WET terminator trim (r14 ADVICE #4) -----------------------------


def test_wet_lf_only_file_trims_terminator_and_keeps_payload_newlines(
    spark, tmp_path
):
    from candia_spark.sources.adapters import read_wet_records

    def rec(rid, text):
        return (
            "WARC/1.0\nWARC-Type: conversion\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\n"
            f"WARC-Target-URI: http://h/{rid}\n"
            "WARC-Date: 2020-01-01T00:00:00Z\n"
            f"Content-Length: {len(text.encode())}\n\n{text}\n\n"
        )

    texts = {
        "l1": "plain payload",
        "l2": "payload keeping its own newline\n",
        "l3": "two own newlines\n\n",
    }
    src = tmp_path / "lf.wet"
    src.write_text("".join(rec(k, v) for k, v in texts.items()))
    got = {
        r["record_id"]: r
        for r in read_wet_records(spark, str(src)).collect()
    }
    for rid, text in texts.items():
        key = f"<urn:uuid:{rid}>"
        assert got[key]["text"] == text, rid
        # Content-Length header (payload byte length) must agree with
        # the trimmed payload — the consistency ADVICE r14 flagged
        assert got[key]["content_length"] == len(text.encode()), rid


# --- trained IVFADC: cells follow the PASSED centroid table (ADVICE #1) ------


@pytest.mark.slow
def test_trained_ivfadc_cells_follow_passed_centroids(spark, sf_smoke):
    # Persist a centroid table trained with coarse_k=4, then call the
    # index with DEFAULT coarse params (coarse_k=8) passing only
    # `centroids`: cells must derive from the 4-centroid table (not a
    # silently re-trained 8-cell map), so the result equals the fully
    # consistent coarse_k=4 call.
    from candia_spark.operators.clustering import kmeans_centroids
    from candia_spark.operators.similarity import pq_topk_ivf_trained

    emb = (
        spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(300)
    )
    qs = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent4 = kmeans_centroids(emb, k=4, iters=2)
    got = pq_topk_ivf_trained(
        emb, qs, k=3, nprobe=2, centroids=cent4  # call-site coarse_k=8 default
    ).collect()
    want = pq_topk_ivf_trained(
        emb, qs, k=3, nprobe=2, coarse_k=4, coarse_iters=2
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# --- blocklist broadcast-join engine (VERDICT r14 missing #3) ----------------


def test_blocklist_join_engine_matches_inline_verdicts(spark):
    from candia_spark.operators.curation import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "an X.Rated page with Merge-Batch! inside"),
            (2, "unrated content, slowly moving"),
            (3, "a SLOW day for merge batch jobs"),
            (4, "nothing to see"),
            (5, None),
            (6, ""),
        ],
        "doc_id bigint, text string",
    )
    # engine equivalence on the bounded list the inline path is FOR
    # (the >1k case below is join-only: the inline engine's 1000-term
    # expression fold is exactly the StackOverflow/Janino hazard the
    # join engine exists to avoid — measured, not hypothetical)
    phrases = ["x-rated", "slow", "Merge-Batch!", "see", "nosuchword"]
    got = sorted(
        map(tuple, blocklist_filter(
            docs, phrases, engine="join").collect())
    )
    want = sorted(
        map(tuple, blocklist_filter(
            docs, phrases, engine="inline").collect())
    )
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[1][3] and by_id[1][1] == 2  # x rated + merge batch
    assert by_id[2][3] is False  # word boundary holds in the join engine
    assert by_id[3][1] == 2 and by_id[3][2] == "merge batch"
    assert by_id[4][1] == 1 and by_id[4][2] == "see"


def test_blocklist_join_engine_handles_c4_scale_lists(spark):
    # a C4-scale list (>1k phrases, mixed word counts) through the join
    # engine against a hand-computed expectation; the inline engine
    # CANNOT run this shape (expression-fold StackOverflow at ~1k
    # contains() terms — the documented Janino/plan-size hazard).
    from candia_spark.operators.curation import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "hit phrase 0007 appears here"),
            (2, "clean document"),
            (3, "both hit phrase 0100 and hit phrase 0007!"),
        ],
        "doc_id bigint, text string",
    )
    phrases = [f"hit phrase {i:04d}" for i in range(1200)]
    got = {
        r["doc_id"]: r
        for r in blocklist_filter(docs, phrases, engine="join").collect()
    }
    assert got[1]["n_hits"] == 1 and got[1]["first_hit"] == "hit phrase 0007"
    assert got[2]["n_hits"] == 0 and not got[2]["blocked"]
    assert got[3]["n_hits"] == 2 and got[3]["first_hit"] == "hit phrase 0007"


def test_blocklist_join_engine_plan_has_no_per_phrase_literals(spark):
    from candia_spark.operators.curation import blocklist_filter

    docs = spark.createDataFrame(
        [(1, "some text")], "doc_id bigint, text string"
    )
    phrases = [f"plan marker phrase {i}" for i in range(1200)]
    out = blocklist_filter(docs, phrases, engine="join")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # phrases are rows of a broadcast table, not expression literals
    assert "plan marker phrase 7" not in plan
    assert "Contains(" not in plan
    assert out.count() == 1  # and the plan actually executes


def test_blocklist_join_engine_validates_engine(spark):
    from candia_spark.operators.curation import blocklist_filter

    docs = spark.createDataFrame([(1, "t")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="engine"):
        blocklist_filter(docs, ["x"], engine="nope")


# --- residual-encoded IVFADC (q127, VERDICT r14 next #1) ---------------------


def _clustered_corpus(spark, n_clusters=4, per_cluster=30, dim=8):
    """Deterministic clustered corpus: ±20 cluster offsets with an
    id-derived ±8 within-cluster spread — the shape where residual
    encoding visibly beats raw-vector PQ (the offsets dominate raw
    lanes and waste codewords; residuals spend them on the spread,
    which is what separates true neighbors). Measured on this fixture:
    recall@5 0.52 raw vs 0.84 residual at m=4, K=8."""
    rows = []
    for c in range(n_clusters):
        for j in range(per_cluster):
            vid = c * per_cluster + j
            vec = [
                20.0 * (1 if ((c >> (d % 2)) & 1) else -1)
                + 2.0 * ((vid * 7 + d * 13) % 9 - 4)
                for d in range(dim)
            ]
            rows.append((vid, vec))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


@pytest.mark.slow
def test_residual_ivfadc_probe_all_equals_flat_residual_pq(spark):
    # nprobe = coarse_k means every encoded vector is scored with the
    # LUT of its OWN cell — by the paper's construction that IS flat
    # residual PQ. Replay it independently in python from the operator's
    # own persisted pieces (codebook + encoded cells + cell centroids)
    # and require set equality of the full rank lists.
    import math

    from candia_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_probe_cells,
    )
    from candia_spark.operators.similarity import (
        cell_centroids_int8,
        pq_topk_ivfadc_residual,
        quantize_int8,
    )

    emb = _clustered_corpus(spark)
    qs = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    coarse_k = 3
    got = pq_topk_ivfadc_residual(
        emb, qs, k=4, m=2, codewords=4, nprobe=coarse_k,
        coarse_k=coarse_k, coarse_iters=2, pq_iters=2,
    ).collect()

    # independent python replay of flat residual ADC
    cent = kmeans_centroids(emb, k=coarse_k, iters=2)
    cells = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_probe_cells(emb, cent, nprobe=1, id_col="vec_id")
        .collect()
    }
    q = quantize_int8(emb)
    cc = {
        r["bucket"]: r["cvec"]
        for r in cell_centroids_int8(
            q,
            spark.createDataFrame(
                [(k_, v) for k_, v in cells.items()],
                "vec_id bigint, bucket bigint",
            ),
        ).collect()
    }
    qv = {r["vec_id"]: r["qvec"] for r in q.collect()}
    res = {
        i: [x - c for x, c in zip(qv[i], cc[cells[i]])] for i in qv
    }
    # train codebook in-engine (the trainer itself is q122-certified;
    # this test pins the residual SEARCH composition), encode in python
    from candia_spark.operators.similarity import _pq_codebook_kmeans_q

    rz = spark.createDataFrame(
        [(i, v) for i, v in res.items()],
        "vec_id bigint, qvec array<bigint>",
    )
    cb_rows = _pq_codebook_kmeans_q(rz, m=2, codewords=4, iters=2,
                                    id_col="vec_id").collect()
    cb = {(r["sub"], r["code"]): r["cw"] for r in cb_rows}
    dsub = 4

    def sub_slices(v):
        return [v[s * dsub:(s + 1) * dsub] for s in range(2)]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    enc = {}
    for i, v in res.items():
        for s, sv in enumerate(sub_slices(v)):
            best = min(
                (l2(sv, cw), code)
                for (sub, code), cw in cb.items() if sub == s
            )
            enc[(i, s)] = best[1]
    want = []
    qids = sorted(r["query_id"] for r in qs.select("query_id").collect())
    for qid in qids:
        scored = []
        for i in qv:
            cell = cells[i]
            qres = [x - c for x, c in zip(qv[qid], cc[cell])]
            d = sum(
                l2(sub_slices(qres)[s], cb[(s, enc[(i, s)])])
                for s in range(2)
            )
            scored.append((d, i))
        scored.sort()
        for rank, (d, i) in enumerate(scored[:4], start=1):
            want.append((qid, i, d, rank))
    assert sorted(map(tuple, got)) == sorted(want)
    assert math.isfinite(1.0)  # silence lint about math import


@pytest.mark.slow
def test_residual_encoding_beats_raw_on_clustered_corpus(spark):
    # the POINT of residual encoding: on a clustered corpus the raw
    # encoder spends codewords describing cluster offsets while the
    # residual encoder spends them on within-cell structure — recall@k
    # against the int8 brute-force truth must not be worse.
    from candia_spark.operators.retrieval import ann_recall_audit
    from candia_spark.operators.similarity import (
        cosine_topk_int8,
        pq_topk_ivf_trained,
        pq_topk_ivfadc_residual,
    )

    emb = _clustered_corpus(spark, n_clusters=4, per_cluster=30)
    qs = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(
        k=5, m=4, codewords=8, nprobe=4, coarse_k=4,
        coarse_iters=2, pq_iters=2,
    )
    truth = cosine_topk_int8(emb, qs, k=5)
    raw = pq_topk_ivf_trained(emb, qs, **kw)
    resid = pq_topk_ivfadc_residual(emb, qs, **kw)

    def mean_recall(approx):
        rows = ann_recall_audit(truth, approx, k=5).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    r_raw, r_res = mean_recall(raw), mean_recall(resid)
    assert r_res >= r_raw + 0.1, (r_res, r_raw)  # a real, measured delta
    assert r_res > 0.7  # and the residual index is actually usable


def test_ivf_cell_balance_guard_fires_on_planted_skew(spark):
    # one dense cluster owns ~90% of the corpus: the guard must raise
    # loudly with the measured imbalance instead of building an index
    # where probing the hot cell scans ~everything.
    from candia_spark.operators.similarity import pq_topk_ivfadc_residual

    rows = []
    for i in range(180):  # hot cell: one exactly-repeated point — the
        # min-id seeds all land inside it and collapse to one cluster
        rows.append((i, [50.0, 50.0]))
    for i in range(180, 200):  # thin spread elsewhere
        rows.append((i, [-40.0 - (i % 4), 30.0 + (i % 3)]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qs = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="cell balance"):
        pq_topk_ivfadc_residual(
            emb, qs, k=3, m=1, codewords=4, coarse_k=4, max_cell_frac=0.5
        ).collect()
    # and without the guard armed the build proceeds
    out = pq_topk_ivfadc_residual(
        emb, qs, k=3, m=1, codewords=4, coarse_k=4
    )
    assert out.count() > 0


@pytest.mark.slow
def test_residual_ivfadc_persisted_pieces_reproduce_the_search(spark):
    # encode-once / search-many: persisting centroids + cell centroids
    # + codebook + encoded cells and passing them back must reproduce
    # the end-to-end build exactly (and skip retraining).
    from candia_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_probe_cells,
    )
    from candia_spark.operators.similarity import (
        _pq_codebook_kmeans_q,
        _pq_encode_q,
        cell_centroids_int8,
        pq_topk_ivfadc_residual,
        quantize_int8,
    )

    emb = _clustered_corpus(spark, n_clusters=3, per_cluster=20)
    qs = emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=3, m=2, codewords=4, nprobe=2, coarse_k=3,
              coarse_iters=2, pq_iters=2)
    want = pq_topk_ivfadc_residual(emb, qs, **kw).collect()

    cent = kmeans_centroids(emb, k=3, iters=2)
    cells = kmeans_probe_cells(emb, cent, nprobe=1, id_col="vec_id").select(
        "vec_id", F.col("cluster").alias("bucket")
    )
    q = quantize_int8(emb)
    cc = cell_centroids_int8(q, cells)
    rz = (
        q.join(cells, "vec_id")
        .join(F.broadcast(cc), "bucket")
        .select(
            "vec_id", "bucket",
            F.zip_with("qvec", "cvec", lambda x, c: x - c).alias("qvec"),
        )
    )
    cb = _pq_codebook_kmeans_q(
        rz.select("vec_id", "qvec"), m=2, codewords=4, iters=2,
        id_col="vec_id",
    )
    enc = _pq_encode_q(rz.select("vec_id", "qvec"), cb, 2, "vec_id").join(
        rz.select("vec_id", "bucket"), "vec_id"
    )
    got = pq_topk_ivfadc_residual(
        emb, qs, centroids=cent, cell_centroids=cc,
        codebook=cb, encoded_cells=enc, **kw
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# --- q128 capstone chain (VERDICT r14 next #2) --------------------------------


def test_q128_chain_composes_and_routes_every_gate(spark, sf_smoke):
    from candia_spark.plans.queries import QUERY_REGISTRY

    rows = QUERY_REGISTRY["q128_pretrain_assembly"].spark(
        spark, sf_smoke
    ).collect()
    assert len(rows) > 0
    ids = {r["doc_id"] for r in rows}
    # WET gate: the %13 headerless rows routed to _malformed and never
    # entered the pipeline
    assert not any(d % 13 == 0 for d in ids)
    # blocklist gate: every %11 doc carries the planted phrase
    assert not any(d % 11 == 0 for d in ids)
    # decontamination: the %17 benchmark slice self-flags through its
    # own payload
    assert not any(d % 17 == 0 for d in ids)
    # packing invariant: within a (source shard, seq_id) the docs fill
    # in doc_id order with non-decreasing offsets under the budget
    from collections import defaultdict

    seqs = defaultdict(list)
    for r in rows:
        seqs[(r["source"], r["seq_id"])].append(r)
    for (_, _), docs in seqs.items():
        docs.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in docs:
            assert r["offset_in_seq"] == off
            off += r["kept_tokens"]
        assert off <= 60 or len(docs) == 1  # oversize docs sit alone
    # shuffle: positions are a permutation within each shuffle shard
    byshard = defaultdict(list)
    for r in rows:
        byshard[r["shuffle_shard"]].append(r["shuffle_pos"])
    for shard, poss in byshard.items():
        assert sorted(poss) == list(range(len(poss))), shard


# --- rolling-ingestion grand equivalence (VERDICT r14 next #6) ----------------


def _rows_sorted(df):
    out = []
    for r in df.collect():
        out.append(tuple(tuple(v) if isinstance(v, list) else v for v in r))
    return sorted(out)


@pytest.mark.slow
def test_rolling_ingestion_grand_equivalence(spark, tmp_path):
    """THE cross-family rolling test: three WET batches arrive, and the
    rolling families roll forward batch by batch — near-dups checked at
    arrival against the corpus so far, the block census compacted, the
    phash signature store appended, and the IVFADC ANN index encoding
    each batch under its frozen pieces — then every rolled state must
    equal its from-scratch rebuild over the concatenated corpus.
    Per-family tests pin each contract alone; THIS test catches
    cross-family drift (id ordering, append discipline, geometry stamps)
    that only shows when one ingestion loop drives them all."""
    from candia_spark.operators.dedup import (
        block_census,
        compact_block_census,
        incremental_near_dups,
    )
    from candia_spark.operators.multimodal import dhash64
    from candia_spark.sources.adapters import read_wet_records

    # --- three WET batches with planted cross-batch structure: batch 1
    # re-ingests a batch-0 text verbatim (near-dup + block dup), batch 2
    # shares an 8-word block with batch 0, and payload bytes repeat
    # across batches. Ids are batch-ordered (b*1000 + j) — the
    # rolling-ownership contract.
    texts = {
        0: [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten",
            "the quick brown fox jumps over the lazy dog today",
        ],
        1: [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "eleven twelve thirteen fourteen fifteen sixteen seventeen "
            "eighteen nineteen twenty",
        ],
        2: [
            "one two three four five six seven eight fresh tail",
            "totally novel words without any shared block here now",
        ],
    }

    def rec(rid, text):
        return (
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: http://h/{rid}\r\n"
            "WARC-Date: 2020-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(text.encode())}\r\n\r\n{text}\r\n"
        )

    in_dir = tmp_path / "landing"
    in_dir.mkdir()
    for b, ts in texts.items():
        (in_dir / f"{b}.wet").write_text(
            "".join(rec(b * 1000 + j, t) for j, t in enumerate(ts))
        )

    def batch_docs(b):
        df = read_wet_records(spark, str(in_dir / f"{b}.wet"))
        return df.select(
            F.regexp_extract("record_id", "([0-9]+)", 1)
            .cast("bigint")
            .alias("doc_id"),
            "text",
            F.encode("text", "UTF-8").alias("payload"),
        )

    b0, b1, b2 = batch_docs(0), batch_docs(1), batch_docs(2)
    alldocs = b0.unionByName(b1).unionByName(b2)

    # --- family 1: near-dups at arrival against the corpus so far
    corpus = b0
    cross_hits = []
    for nb in (b1, b2):
        cross_hits += _rows_sorted(
            incremental_near_dups(nb, corpus).select("new_id", "corpus_id")
        )
        corpus = corpus.unionByName(nb)
    # the verbatim batch-1 re-ingest of a batch-0 text was caught at
    # arrival time
    assert (1000, 0) in cross_hits

    # --- family 2: block census
    blocks_p = str(tmp_path / "blocks")
    block_census(b0, block_words=4).write.mode("overwrite").parquet(blocks_p)
    for nb in (b1, b2):
        stored = spark.read.parquet(blocks_p)
        compact_block_census(stored, nb, block_words=4).write.mode(
            "append"
        ).parquet(blocks_p)
    assert _rows_sorted(spark.read.parquet(blocks_p)) == _rows_sorted(
        block_census(alldocs, block_words=4)
    )

    # --- family 3: phash signature store (append-only by contract)
    sigs_p = str(tmp_path / "sigs")
    dhash64(b0).write.mode("overwrite").parquet(sigs_p)
    for nb in (b1, b2):
        dhash64(nb).write.mode("append").parquet(sigs_p)
    assert _rows_sorted(spark.read.parquet(sigs_p)) == _rows_sorted(
        dhash64(alldocs)
    )

    # --- family 4 (r16): the rolling IVFADC ANN index — the same
    # ingestion loop trains on batch 0 and encodes batches 1 and 2
    # under the FROZEN pieces; the rolled codes must equal the
    # from-scratch frozen re-encode of the concatenated corpus.
    # Embeddings derive in-plan from the text (md5 nibble lanes), so
    # the leg rides the identical WET documents.
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        ivfadc_encode_batch,
    )

    def embed(df):
        return df.select(
            F.col("doc_id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(F.md5("text"), 4 * d + 1, 4), 16, 10
                        ).cast("double")
                        + F.lit(1.0)
                    )
                    for d in range(8)
                ]
            ).alias("embedding"),
        )

    ann_kw = dict(m=2, codewords=4, coarse_k=2, coarse_iters=2, pq_iters=2)
    idx = ivfadc_build_index(embed(b0), **ann_kw)
    frozen = (idx["centroids"], idx["cell_centroids"], idx["codebook"])
    rolled = _rows_sorted(idx["encoded_cells"])
    for nb in (b1, b2):
        rolled += _rows_sorted(ivfadc_encode_batch(embed(nb), *frozen, m=ann_kw["m"]))
    rebuilt = ivfadc_encode_batch(embed(alldocs), *frozen, m=ann_kw["m"])
    assert sorted(rolled) == _rows_sorted(rebuilt)
    # the pieces carry their geometry stamp
    cw_meta = next(
        f.metadata for f in idx["codebook"].schema.fields if f.name == "cw"
    )
    assert cw_meta["m"] == ann_kw["m"] and cw_meta["residual"] == 1


def test_wet_truncated_tail_terminator_ambiguity_is_pinned(spark, tmp_path):
    # a record truncated at EOF (no terminator) whose payload ends in a
    # newline: the trailing newline is indistinguishable from a partial
    # terminator and is trimmed — the documented rule, symmetric across
    # CRLF and LF files; content_length still carries the header value
    # so the truncation is detectable.
    from candia_spark.sources.adapters import read_wet_records

    def rec(sep, rid, text):
        return (
            f"WARC/1.0{sep}WARC-Type: conversion{sep}"
            f"WARC-Record-ID: <urn:uuid:{rid}>{sep}"
            f"WARC-Target-URI: http://h/{rid}{sep}"
            f"WARC-Date: 2020-01-01T00:00:00Z{sep}"
            f"Content-Length: {len(text.encode())}{sep}{sep}{text}"
        )

    for name, sep in (("crlf", "\r\n"), ("lf", "\n")):
        src = tmp_path / f"trunc_{name}.wet"
        src.write_text(rec(sep, "t1", f"payload ends in newline{sep}"))
        got = read_wet_records(spark, str(src)).collect()
        assert len(got) == 1
        r = got[0]
        assert r["text"] == "payload ends in newline", name
        # the header still reports the true (pre-truncation) length, so
        # octet_length(text) != content_length flags the truncated tail
        assert r["content_length"] == len(f"payload ends in newline{sep}".encode())


# --- IVFADC + exact re-rank (q130, Jégou §V-D) --------------------------------


def test_rerank_full_coverage_equals_exact_search(spark):
    # probe EVERY cell and shortlist >= corpus size: the re-rank scores
    # every vector with the exact dot, so the output must EQUAL the
    # int8 brute-force top-k row for row (the paper's limit case).
    from candia_spark.operators.similarity import (
        cosine_topk_int8,
        pq_topk_rerank,
    )

    emb = _clustered_corpus(spark, n_clusters=3, per_cluster=20)
    qs = emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = pq_topk_rerank(
        emb, qs, k=4, shortlist=60, m=2, codewords=4,
        nprobe=3, coarse_k=3, coarse_iters=2, pq_iters=2,
    ).collect()
    want = cosine_topk_int8(emb, qs, k=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.slow
def test_rerank_recovers_recall_over_plain_adc_ranks(spark):
    # the production point: a small shortlist re-ranked exactly must
    # beat the plain ADC ranking at the same index parameters.
    from candia_spark.operators.retrieval import ann_recall_audit
    from candia_spark.operators.similarity import (
        cosine_topk_int8,
        pq_topk_ivfadc_residual,
        pq_topk_rerank,
    )

    emb = _clustered_corpus(spark)
    qs = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(m=4, codewords=8, nprobe=4, coarse_k=4,
              coarse_iters=2, pq_iters=2)
    truth = cosine_topk_int8(emb, qs, k=5)
    plain = pq_topk_ivfadc_residual(emb, qs, k=5, **kw)
    rer = pq_topk_rerank(emb, qs, k=5, shortlist=20, **kw)

    def mean_recall(approx):
        rows = ann_recall_audit(truth, approx, k=5).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    r_plain, r_rer = mean_recall(plain), mean_recall(rer)
    assert r_rer >= r_plain, (r_rer, r_plain)
    assert r_rer > 0.9  # near-exact at R=4k on this fixture


def test_rerank_validates_shortlist(spark):
    from candia_spark.operators.similarity import pq_topk_rerank

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    qs = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="shortlist"):
        pq_topk_rerank(emb, qs, k=5, shortlist=3)
