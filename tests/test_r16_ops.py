"""Round-16: the rolling ANN index family (frozen-index batch encode,
partitioned store with scan pruning, geometry stamps, hot-cell split,
re-rank candidate pushdown) and the r15 ADVICE closures (recall-audit
depth guard, armed skew guard on passed codes, LUT broadcast fallback,
reusable blocklist phrase table)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _corpus(spark, n=60, dim=8):
    """Deterministic spread corpus (id-derived lanes, non-degenerate)."""
    rows = [
        (
            i,
            [
                float((i * 7 + d * 13) % 19 - 9) + 0.25 * ((i + d) % 4)
                for d in range(dim)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _skewed_corpus(spark, dim=8):
    """90% of vectors in one tight ball, 10% spread — the planted
    one-hot-cell shape the balance guard exists for."""
    rows = []
    for i in range(90):
        rows.append(
            (i, [10.0 + 0.01 * ((i * 3 + d) % 7) for d in range(dim)])
        )
    for i in range(90, 100):
        rows.append(
            (i, [float((i * 11 + d * 5) % 17 - 8) for d in range(dim)])
        )
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


_KW = dict(m=2, codewords=4, coarse_k=3, coarse_iters=2, pq_iters=2)


# --- rolling ingestion: frozen-index batch encode (q131) ---------------------


def test_encode_batch_rolled_equals_rebuilt(spark):
    # append == from-scratch re-encode of the concatenated corpus under
    # the SAME frozen pieces (the q103/q78 rolling equivalence stance).
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        ivfadc_encode_batch,
    )

    emb = _corpus(spark)
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    idx = ivfadc_build_index(base, **_KW)
    pieces = (idx["centroids"], idx["cell_centroids"], idx["codebook"])
    rolled = idx["encoded_cells"].unionByName(
        ivfadc_encode_batch(batch, *pieces, m=_KW["m"])
    )
    rebuilt = ivfadc_encode_batch(emb, *pieces, m=_KW["m"])
    assert _rows(rolled) == _rows(rebuilt)
    # and the base half alone reproduces the build's own encode — the
    # factored build path and the frozen encoder are ONE implementation
    assert _rows(ivfadc_encode_batch(base, *pieces, m=_KW["m"])) == _rows(
        idx["encoded_cells"]
    )


@pytest.mark.slow
def test_search_over_rolled_equals_search_over_rebuilt(spark):
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        ivfadc_encode_batch,
        pq_topk_ivfadc_residual,
    )

    emb = _corpus(spark)
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    qs = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = ivfadc_build_index(base, **_KW)
    pieces = dict(
        centroids=idx["centroids"],
        cell_centroids=idx["cell_centroids"],
        codebook=idx["codebook"],
    )
    rolled = idx["encoded_cells"].unionByName(
        ivfadc_encode_batch(
            batch, idx["centroids"], idx["cell_centroids"],
            idx["codebook"], m=_KW["m"],
        )
    )
    rebuilt = ivfadc_encode_batch(
        emb, idx["centroids"], idx["cell_centroids"], idx["codebook"],
        m=_KW["m"],
    )
    a = pq_topk_ivfadc_residual(
        None, qs, k=3, nprobe=2, encoded_cells=rolled, **pieces, **_KW
    )
    b = pq_topk_ivfadc_residual(
        None, qs, k=3, nprobe=2, encoded_cells=rebuilt, **pieces, **_KW
    )
    got = _rows(a)
    assert got == _rows(b) and got


def test_recall_drift_audit_leg_runs_on_rolled_index(spark):
    # the retrain signal: audit the rolled index against exact truth.
    # Contract here: one row per query, recall in [0, 1], n_true <= k —
    # the measured drift CURVE is SCALING_r16's leg, not a unit pin.
    from candia_spark.operators.retrieval import ann_recall_audit
    from candia_spark.operators.similarity import (
        cosine_topk_int8,
        ivfadc_build_index,
        ivfadc_encode_batch,
        pq_topk_ivfadc_residual,
    )

    emb = _corpus(spark)
    base = emb.filter(F.col("vec_id") % 4 != 3)
    batch = emb.filter(F.col("vec_id") % 4 == 3)
    qs = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = ivfadc_build_index(base, **_KW)
    rolled = idx["encoded_cells"].unionByName(
        ivfadc_encode_batch(
            batch, idx["centroids"], idx["cell_centroids"],
            idx["codebook"], m=_KW["m"],
        )
    )
    approx = pq_topk_ivfadc_residual(
        None, qs, k=3, nprobe=2, centroids=idx["centroids"],
        cell_centroids=idx["cell_centroids"], codebook=idx["codebook"],
        encoded_cells=rolled, **_KW,
    )
    audit = ann_recall_audit(
        cosine_topk_int8(emb, qs, k=3), approx, k=3
    ).collect()
    assert len(audit) == qs.count()
    for r in audit:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_true"] <= 3 and r["n_overlap"] <= r["n_true"]


def test_corpus_none_requires_all_pieces(spark):
    from candia_spark.operators.similarity import pq_topk_ivfadc_residual

    qs = _corpus(spark, n=5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="corpus is required"):
        pq_topk_ivfadc_residual(None, qs, k=2, **_KW)


# --- geometry stamps -------------------------------------------------------


def test_index_geometry_mismatch_raises(spark):
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        ivfadc_encode_batch,
        pq_topk_ivfadc_residual,
    )

    emb = _corpus(spark)
    qs = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    idx = ivfadc_build_index(emb, **_KW)
    pieces = dict(
        centroids=idx["centroids"],
        cell_centroids=idx["cell_centroids"],
        codebook=idx["codebook"],
        encoded_cells=idx["encoded_cells"],
    )
    bad = dict(_KW)
    bad["m"] = 4
    with pytest.raises(ValueError, match="ivfadc index piece"):
        pq_topk_ivfadc_residual(None, qs, k=2, **pieces, **bad)
    bad = dict(_KW)
    with pytest.raises(ValueError, match="ivfadc index piece"):
        pq_topk_ivfadc_residual(
            None, qs, k=2, coarse_scale=500, **pieces, **bad
        )
    with pytest.raises(ValueError, match="ivfadc index piece"):
        ivfadc_encode_batch(
            emb, idx["centroids"], idx["cell_centroids"], idx["codebook"],
            m=_KW["m"], scale=64,
        )


def test_residual_pieces_refused_by_raw_adc_path(spark):
    # a residual-encoded artifact fed to the RAW-vector trained path
    # would silently mis-rank everything — the stamp's residual flag is
    # the discriminator.
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        pq_topk_ivf_trained,
    )

    emb = _corpus(spark)
    qs = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    idx = ivfadc_build_index(emb, **_KW)
    with pytest.raises(ValueError, match="residual"):
        pq_topk_ivf_trained(
            emb, qs, k=2, codebook=idx["codebook"],
            encoded_cells=idx["encoded_cells"], centroids=idx["centroids"],
            **_KW,
        )


# --- cell-balance guard + hot-cell split ------------------------------------


def test_cell_balance_guard_censuses_passed_encoded_cells(spark):
    # ADVICE r15: max_cell_frac alongside encoded_cells must not be a
    # silent no-op — the census runs over the stored assignment.
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        pq_topk_ivfadc_residual,
    )

    emb = _skewed_corpus(spark)
    qs = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    idx = ivfadc_build_index(emb, **_KW)
    with pytest.raises(ValueError, match="cell balance violated"):
        pq_topk_ivfadc_residual(
            None, qs, k=2, max_cell_frac=0.5,
            centroids=idx["centroids"],
            cell_centroids=idx["cell_centroids"],
            codebook=idx["codebook"],
            encoded_cells=idx["encoded_cells"], **_KW,
        )


@pytest.mark.slow
def test_split_hot_cells_passes_armed_guard_on_planted_skew(spark):
    # VERDICT r15 missing #3 done-criteria: the planted 90%-one-cell
    # corpus fails the bare guard, and with split_hot_k the build
    # splits the hot cell and passes the SAME armed guard.
    from candia_spark.operators.similarity import ivfadc_build_index

    emb = _skewed_corpus(spark)
    with pytest.raises(ValueError, match="cell balance violated"):
        ivfadc_build_index(emb, max_cell_frac=0.5, **_KW)
    idx = ivfadc_build_index(emb, max_cell_frac=0.5, split_hot_k=4, **_KW)
    # the widened table replaced the hot row with split_k children
    assert idx["centroids"].count() > _KW["coarse_k"]
    # every corpus vector still lands in exactly one cell
    assert (
        idx["encoded_cells"].select("vec_id", "bucket").distinct().count()
        == 100
    )
    # the search builder forwards the remedy: the same armed guard that
    # raises bare passes end-to-end with split_hot_k set
    from candia_spark.operators.similarity import pq_topk_ivfadc_residual

    qs = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    assert (
        pq_topk_ivfadc_residual(
            emb, qs, k=2, max_cell_frac=0.5, split_hot_k=4, **_KW
        ).count()
        > 0
    )


def test_split_hot_cells_noop_on_balanced_corpus(spark):
    # probe semantics unchanged when nothing is hot: the table is
    # returned as-is (the equivalence half of the done-criteria).
    from candia_spark.operators.clustering import kmeans_centroids
    from candia_spark.operators.similarity import split_hot_cells

    emb = _corpus(spark)
    cent = kmeans_centroids(emb, k=3, iters=2)
    assert split_hot_cells(emb, cent, max_cell_frac=0.9) is cent


def test_split_hot_cells_validates_args(spark):
    from candia_spark.operators.clustering import kmeans_centroids
    from candia_spark.operators.similarity import split_hot_cells

    emb = _corpus(spark, n=10)
    cent = kmeans_centroids(emb, k=2, iters=1)
    with pytest.raises(ValueError, match="max_cell_frac"):
        split_hot_cells(emb, cent, max_cell_frac=1.5)
    with pytest.raises(ValueError, match="split_k"):
        split_hot_cells(emb, cent, max_cell_frac=0.5, split_k=1)


# --- LUT broadcast fallback (ADVICE r15) ------------------------------------


@pytest.mark.slow
def test_broadcast_lut_fallback_is_value_identical(spark):
    from candia_spark.operators.similarity import (
        pq_topk_ivf_trained,
        pq_topk_ivfadc_residual,
    )

    emb = _corpus(spark)
    qs = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for fn in (pq_topk_ivfadc_residual, pq_topk_ivf_trained):
        a = fn(emb, qs, k=3, nprobe=2, **_KW)
        b = fn(emb, qs, k=3, nprobe=2, broadcast_lut=False, **_KW)
        got = _rows(a)
        assert got == _rows(b) and got, fn.__name__


# --- re-rank candidate pushdown (VERDICT r15 missing #4) ---------------------


@pytest.mark.slow
def test_rerank_pushdown_plan_and_quantized_corpus_equivalence(spark):
    from candia_spark.operators.similarity import (
        pq_topk_rerank,
        quantize_int8,
    )

    emb = _corpus(spark)
    qs = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = pq_topk_rerank(emb, qs, k=3, shortlist=10, nprobe=2, **_KW)
    # the exact re-rank's quantize runs UNDER a candidate semi-join —
    # Q*R vectors, never a corpus-wide quantize map
    assert "LeftSemi" in _plan_of(df)
    qz = quantize_int8(emb, "embedding", "vec_id")
    b = pq_topk_rerank(
        emb, qs, k=3, shortlist=10, nprobe=2, quantized_corpus=qz, **_KW
    )
    got = _rows(df)
    assert got == _rows(b) and got


# --- ann_recall_audit depth guard (ADVICE r15) -------------------------------


def test_recall_audit_depth_guard_raises_on_unranked_deep_frame(spark):
    from candia_spark.operators.retrieval import ann_recall_audit

    deep = spark.createDataFrame(
        [(1, i) for i in range(5)], "query_id bigint, vec_id bigint"
    )
    ok = spark.createDataFrame(
        [(1, 0), (1, 9)], "query_id bigint, vec_id bigint"
    )
    with pytest.raises(Exception, match="more than"):
        ann_recall_audit(deep, ok, k=2).collect()
    with pytest.raises(Exception, match="more than"):
        ann_recall_audit(ok, deep, k=2).collect()


def test_recall_audit_rank_column_is_cut_not_raised(spark):
    # a frame deeper than k that CARRIES its rank is simply rank-cut —
    # the top-k family's own contract, no error
    from candia_spark.operators.retrieval import ann_recall_audit

    deep_ranked = spark.createDataFrame(
        [(1, i, i + 1) for i in range(5)],
        "query_id bigint, vec_id bigint, rank bigint",
    )
    approx = spark.createDataFrame(
        [(1, 0), (1, 9)], "query_id bigint, vec_id bigint"
    )
    got = ann_recall_audit(deep_ranked, approx, k=2).collect()
    assert len(got) == 1
    assert got[0]["n_true"] == 2  # ranks 1..2 only
    assert got[0]["n_overlap"] == 1  # vec_id 0 (rank 1)


# --- real image codec leg (VERDICT r15 missing #5) ---------------------------


def _bmp24(px):
    """Hand-assemble an uncompressed 24-bit bottom-up BMP from top-down
    RGB rows — built from the public format spec, independently of the
    decoder under test."""
    import struct

    h, w = len(px), len(px[0])
    stride = (w * 3 + 3) // 4 * 4
    raster = bytearray()
    for row in reversed(px):
        line = bytearray()
        for r, g, b in row:
            line += bytes([b, g, r])
        line += b"\x00" * (stride - len(line))
        raster += line
    off = 14 + 40
    header = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return bytes(header + info + raster)


def _ppm6(px):
    h, w = len(px), len(px[0])
    body = bytes(v for row in px for p in row for v in p)
    return f"P6\n# test\n{w} {h}\n255\n".encode() + body


def _pixels(h=16, w=18):
    return [
        [
            (
                (r * 31 + c * 17) % 251,
                (r * 7 + c * 3) % 251,
                (r * 13 + c * 29) % 251,
            )
            for c in range(w)
        ]
        for r in range(h)
    ]


def _ref_dhash(px):
    """Independent in-test dHash: float-free cross-multiplied cell-mean
    comparisons over the 9x8 area-average grid."""
    import numpy as np

    gray = [[sum(p) for p in row] for row in px]
    hh, ww = len(gray), len(gray[0])
    g = np.array(gray, dtype=np.int64)
    ys = np.linspace(0, hh, 9).round().astype(int)
    xs = np.linspace(0, ww, 10).round().astype(int)
    s = [[0] * 9 for _ in range(8)]
    n = [[0] * 9 for _ in range(8)]
    for r in range(8):
        for c in range(9):
            cell = g[
                ys[r] : max(ys[r + 1], ys[r] + 1),
                xs[c] : max(xs[c + 1], xs[c] + 1),
            ]
            s[r][c], n[r][c] = int(cell.sum()), int(cell.size)
    h = 0
    for r in range(8):
        for c in range(8):
            if s[r][c] * n[r][c + 1] > s[r][c + 1] * n[r][c]:
                h |= 1 << (8 * r + c)
    return h


def test_decode_image_formats_agree_on_identical_pixels():
    import numpy as np

    from candia_spark.operators.multimodal import decode_image

    px = _pixels()
    bmp, ppm = decode_image(_bmp24(px)), decode_image(_ppm6(px))
    assert bmp.shape == (16, 18)
    assert np.array_equal(bmp, ppm)
    # P5 grayscale with the same luma triples to the P6 convention
    gray_px = [[(v % 251,) * 3 for v in row] for row in
               [[r * 9 + c for c in range(6)] for r in range(4)]]
    p5_body = bytes(p[0] for row in gray_px for p in row)
    p5 = b"P5\n6 4\n255\n" + p5_body
    assert np.array_equal(
        decode_image(p5),
        decode_image(_ppm6(gray_px)),
    )


def test_dhash_real_leg_matches_hand_computed(spark):
    from candia_spark.operators.multimodal import dhash64

    px = _pixels()
    docs = spark.createDataFrame(
        [(1, _bmp24(px)), (2, _ppm6(px))], "doc_id bigint, payload binary"
    )
    got = {r["doc_id"]: r for r in dhash64(docs, decoder="real").collect()}
    want = _ref_dhash(px)
    for did in (1, 2):
        h = got[did]["h_hi"] | (got[did]["h_lo"] << 32)
        assert h == want, did
    # the two containers carry the same pixels -> identical signature
    assert got[1]["h_hi"] == got[2]["h_hi"]
    assert got[1]["band0"] == want & 0xFFFF


def test_dhash_real_leg_strict_stub_leg_lenient(spark):
    from candia_spark.operators.multimodal import dhash64, decode_image

    junk = spark.createDataFrame(
        [(1, b"not an image at all")], "doc_id bigint, payload binary"
    )
    # stub leg: any bytes hash (the never-crash contract)
    assert dhash64(junk).count() == 1
    # real leg: undecodable payload raises loudly
    with pytest.raises(Exception, match="decode_image supports"):
        dhash64(junk, decoder="real").collect()
    # empty/NULL payloads hash 0 on BOTH legs (the r11 null doctrine)
    empty = spark.createDataFrame(
        [(1, b""), (2, None)], "doc_id bigint, payload binary"
    )
    for leg in ("stub", "real"):
        rows = dhash64(empty, decoder=leg).collect()
        assert all(r["h_hi"] == 0 and r["h_lo"] == 0 for r in rows), leg
    with pytest.raises(ValueError, match="decoder must be"):
        dhash64(junk, decoder="pil")
    # malformed real payloads name the defect
    for bad, msg in (
        (b"BM" + b"\x00" * 20, "truncated"),
        (b"P6\n3 2\n65535\n" + b"\x00" * 18, "maxval"),
        (b"P6\n3 2\n255\n\x00\x00", "truncated"),
    ):
        with pytest.raises(ValueError, match=msg):
            decode_image(bad)


# --- exact re-rank from the index pieces (the fifth piece) ------------------


@pytest.mark.slow
def test_rerank_from_index_pieces_never_touches_floats(spark):
    # the build already quantizes the corpus once; handing that to the
    # re-rank with the other index pieces runs the full IVFADC+R stage
    # from stored integers — equal to the corpus path, candidate-pruned
    # via semi-join.
    from candia_spark.operators.similarity import (
        ivfadc_build_index,
        pq_topk_rerank,
    )

    emb = _corpus(spark)
    qs = emb.filter(F.col("vec_id") % 9 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = ivfadc_build_index(emb, **_KW)
    assert "quantized_corpus" in idx
    pieces = pq_topk_rerank(
        None, qs, k=3, shortlist=10, nprobe=2,
        centroids=idx["centroids"],
        cell_centroids=idx["cell_centroids"],
        codebook=idx["codebook"],
        encoded_cells=idx["encoded_cells"],
        quantized_corpus=idx["quantized_corpus"], **_KW,
    )
    mem = pq_topk_rerank(emb, qs, k=3, shortlist=10, nprobe=2, **_KW)
    got = _rows(pieces)
    assert got == _rows(mem) and got
    # the exact stage still reads candidates only, not the whole store
    assert "LeftSemi" in _plan_of(pieces)
    with pytest.raises(ValueError, match="corpus is required"):
        pq_topk_rerank(None, qs, k=3, shortlist=10)


def test_real_codec_leg_features(spark):
    import numpy as np

    from candia_spark.operators.multimodal import (
        extract_features,
        real_image_features,
    )

    px = _pixels()  # 16 x 18
    docs = spark.createDataFrame(
        [(1, _bmp24(px))], "doc_id bigint, payload binary"
    )
    # real features: chunk means of the decoded pixel stream, via the
    # pluggable decoder slot
    feats = extract_features(
        docs, feature_dim=4, decoder=real_image_features
    ).collect()[0]["features"]
    flat = np.array([sum(p) for row in px for p in row], dtype=np.float64)
    want_f = [c.mean() for c in np.array_split(flat, 4)]
    assert feats == pytest.approx(want_f)
    # strictness
    junk = spark.createDataFrame(
        [(1, b"junk bytes")], "doc_id bigint, payload binary"
    )
    with pytest.raises(Exception, match="decode_image supports"):
        extract_features(junk, feature_dim=4, decoder=real_image_features).collect()
