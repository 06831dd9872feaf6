"""Focused tests for the round-16 optimization changes: each pins the
EQUIVALENCE contract of an internals change (the optimization may only
move work, never results).

- change #1: the statically-gated bigint distance accumulation must be
  bit-identical to the decimal(38,0) leg wherever the gate admits it;
- change #5: one Lloyd's run returning both products must match the
  two-run path (kmeans_centroids + kmeans_probe_cells(nprobe=1)) it
  replaced, row for row;
- change #4 + the committed jaccard twin: the doc-keyed probe
  partitioning is a pure exchange-shape choice — both probe keys must
  emit the identical pair set for the exact-Jaccard and the winnowed
  engines;
- change #9: carrying the cell assignment through the PQ encoder's
  explode/group key must equal the encode-then-join attach it replaced,
  row for row, on every path that took the join (residual build, frozen
  batch encode, pinned-centroid IVF).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from candia_spark.tables import load_table


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_kmeans_int_sum_legs_bit_identical(spark, sf_smoke, monkeypatch):
    """The bigint fast path (change #1) is value-transparent: with the
    static gate forced OFF the decimal leg must produce the identical
    assignment and cluster sizes. Also asserts the fixture actually
    exercises the fast leg by default (gate True on its stats)."""
    from candia_spark.operators import clustering

    emb = load_table(spark, sf_smoke, "embeddings")
    so: dict = {}
    fast = clustering._assignments(
        emb, k=4, iters=2, scale=1000, vec_col="embedding",
        id_col="vec_id", stats_out=so,
    )
    fast_rows = _rows(fast, ["__vid", "cluster"])
    assert clustering._static_int_safe(
        so["n_rows"], so["qmax"], so["dim"]
    ), "fixture must take the bigint leg by default or the A/B is vacuous"

    monkeypatch.setattr(clustering, "_static_int_safe", lambda *a: False)
    slow = clustering._assignments(
        emb, k=4, iters=2, scale=1000, vec_col="embedding", id_col="vec_id"
    )
    assert _rows(slow, ["__vid", "cluster"]) == fast_rows


def test_kmeans_train_assign_matches_two_run_path(spark, sf_smoke):
    """change #5: the (centroids, assignment) pair from ONE Lloyd's run
    equals the old two-run derivation — kmeans_centroids for the table,
    kmeans_probe_cells(nprobe=1) against it for the cells."""
    from candia_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_probe_cells,
        kmeans_train_assign,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    cent, assign = kmeans_train_assign(emb, k=4, iters=2, scale=1000)
    cent_two = kmeans_centroids(emb, k=4, iters=2, scale=1000)
    assert _rows(cent, ["cluster", "sv", "n"]) == _rows(
        cent_two, ["cluster", "sv", "n"]
    )
    probed = kmeans_probe_cells(
        emb, cent, nprobe=1, scale=1000, vec_col="embedding", id_col="vec_id"
    )
    assert _rows(assign, ["vec_id", "cluster"]) == _rows(
        probed, ["vec_id", "cluster"]
    )


def test_jaccard_doc_probe_gate_identical_pairs(spark, sf_smoke):
    """change #4 (jaccard twin): auto mode fires the doc-keyed probe on
    a broadcast-regime corpus; pinning prefix_filter=False keeps the
    unconditional shingle pin. Both must emit the identical pair set."""
    from candia_spark import telemetry
    from candia_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_smoke, "documents")
    auto = ngram_jaccard_pairs(
        docs, n=2, threshold=0.3, max_shingle_frac=0.5
    )
    auto_rows = _rows(auto, ["id_a", "id_b", "n_common", "jaccard"])
    assert telemetry.pop()["jaccard"]["probe"] == "doc"

    pinned = ngram_jaccard_pairs(
        docs, n=2, threshold=0.3, max_shingle_frac=0.5, prefix_filter=False
    )
    assert telemetry.pop()["jaccard"]["probe"] == "shingle"
    assert _rows(pinned, ["id_a", "id_b", "n_common", "jaccard"]) == auto_rows
    assert auto_rows, "fixture must produce pairs or the equality is vacuous"


def test_winnow_doc_probe_gate_identical_pairs(spark, sf_smoke, monkeypatch):
    """change #4 (winnow engine): the doc-keyed probe + forced broadcast
    under the census gate must emit the identical overlap pairs as the
    fp-pinned path (gate disabled via the module constant)."""
    from candia_spark.operators import dedup

    docs = load_table(spark, sf_smoke, "documents")
    kw = dict(n=2, window=4, threshold=0.2, max_fp_frac=0.5)
    gated = dedup.winnow_fingerprint_pairs(docs, **kw)
    gated_rows = _rows(gated, ["id_a", "id_b", "n_shared", "overlap"])

    monkeypatch.setattr(dedup, "_WINNOW_PROBE_DOC_PARTITION_ROWS", -1)
    pinned = dedup.winnow_fingerprint_pairs(docs, **kw)
    assert (
        _rows(pinned, ["id_a", "id_b", "n_shared", "overlap"]) == gated_rows
    )
    assert gated_rows, "fixture must produce pairs or the equality is vacuous"


def test_containment_doc_probe_gate_identical_pairs(
    spark, sf_smoke, monkeypatch
):
    """change #7 (containment witness probe): doc-keyed probe +
    broadcast index under the row-count gate must emit the identical
    candidate set as the shingle-pinned path, in both the min_hits=1
    and the weighted min_hits>1 branches."""
    from candia_spark.operators import dedup

    docs = load_table(spark, sf_smoke, "documents")
    idx = dedup.shingle_index(docs, 2)
    for mh in (1, 4):
        gated = dedup.containment_candidate_pairs(
            docs, num_hashes=16, index=idx, min_hits=mh
        )
        gated_rows = _rows(gated, ["id_a", "id_b"])
        monkeypatch.setattr(dedup, "_PAIR_PROBE_DOC_PARTITION_ROWS", -1)
        pinned = dedup.containment_candidate_pairs(
            docs, num_hashes=16, index=idx, min_hits=mh
        )
        monkeypatch.undo()
        assert _rows(pinned, ["id_a", "id_b"]) == gated_rows
        assert gated_rows, "fixture must produce candidates"


def test_pq_encode_bucket_carry_matches_join(spark, sf_smoke):
    """change #9: the carry form of _pq_encode_q (bucket rides the
    subspace explode and the argmin group key) must emit the identical
    rows — and the identical column order — as the encode-then-join
    attach it replaced, and the one-scan quantize+route of pq_topk_ivf
    must reproduce the old two-scan encoded_cells exactly."""
    from candia_spark.operators.similarity import (
        _pq_encode_q,
        cell_centroids_int8,
        ivf_bucket,
        pq_codebook_first_k,
        pq_codebook_kmeans,
        pq_encode,
        pq_topk_ivf,
        quantize_int8,
        train_spherical_centroids,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q = quantize_int8(emb)
    cells = q.select(
        "vec_id", (F.col("vec_id") % 3).cast("bigint").alias("bucket")
    )
    cb = pq_codebook_kmeans(emb, m=2, codewords=4, iters=2)
    cols = ["vec_id", "sub", "code", "bucket"]
    joined = _pq_encode_q(q, cb, 2, "vec_id").join(cells, "vec_id")
    carried = _pq_encode_q(
        q.join(cells, "vec_id"), cb, 2, "vec_id", carry=("bucket",)
    )
    assert carried.columns == joined.columns == cols
    rows = _rows(carried, cols)
    assert rows == _rows(joined, cols) and rows

    # the build's joinless cell-centroid aggregate over the pre-joined
    # frame equals the two-frame form
    assert _rows(
        cell_centroids_int8(q.join(cells, "vec_id"), None),
        ["bucket", "cvec"],
    ) == _rows(cell_centroids_int8(q, cells), ["bucket", "cvec"])

    # pq_topk_ivf: the new one-scan enc path vs the old two-scan
    # encode ⋈ cells pattern passed back as encoded_cells
    cents = train_spherical_centroids(emb, n_centroids=4)
    qs = emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb1 = pq_codebook_first_k(emb, 2, 4)
    enc_old = pq_encode(emb, cb1, 2).join(
        ivf_bucket(emb, cents).select("vec_id", "bucket"), "vec_id"
    )
    kw = dict(k=3, m=2, codewords=4, nprobe=2, codebook=cb1)
    ocols = ["query_id", "vec_id", "dist", "rank"]
    new_rows = _rows(pq_topk_ivf(emb, qs, cents, **kw), ocols)
    assert new_rows == _rows(
        pq_topk_ivf(emb, qs, cents, encoded_cells=enc_old, **kw), ocols
    )
    assert new_rows, "fixture must produce hits or the equality is vacuous"
