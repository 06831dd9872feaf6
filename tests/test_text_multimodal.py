"""Unit pins for the text-analysis column functions and the multimodal
binary-column plumbing (deterministic fake decoder)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from candia_spark.functions.text import (
    fingerprint,
    lang_id_from_distinct,
    quality_score,
    regex_token_count,
    token_count,
    top_bigram_fraction,
    tokens,
    top_token_fraction,
)
from candia_spark.operators.multimodal import (
    _fake_decode,
    binary_metadata,
    extract_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog went to the park and it is nice"),
        (1, "der hund und die katze nicht das haus"),
        (2, "el perro de la casa que los gatos"),
        (3, "le chat et les chiens des maisons la nuit"),
        (4, "zzz qqq www"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_lang_id(docs):
    got = {
        r["doc_id"]: r["pred"]
        for r in docs.select(
            "doc_id",
            lang_id_from_distinct(F.array_distinct(tokens("text"))).alias("pred"),
        ).collect()
    }
    assert got == {0: "en", 1: "de", 2: "es", 3: "fr", 4: "und", 5: "und"}


def test_token_counts(docs):
    got = {
        r["doc_id"]: (r["ws"], r["re"])
        for r in docs.select(
            "doc_id",
            token_count("text").alias("ws"),
            regex_token_count("text").alias("re"),
        ).collect()
    }
    assert got[0] == (13, 13)
    assert got[5] == (0, 0)
    # regex tokenizer splits on punctuation where whitespace does not
    extra = docs.sparkSession.createDataFrame([(9, "don't stop-me now")], ["doc_id", "text"])
    r = extra.select(
        token_count("text").alias("ws"), regex_token_count("text").alias("re")
    ).collect()[0]
    assert (r["ws"], r["re"]) == (3, 5)


def test_quality_score_bounds_and_order(docs):
    got = {
        r["doc_id"]: r["q"]
        for r in docs.select("doc_id", quality_score("text").alias("q")).collect()
    }
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[5] == 0.0
    # stopword-rich English doc beats the gibberish one
    assert got[0] > got[4]


def test_repetition_fractions_known_values(spark):
    rows = [
        (0, "a a a b"),      # top token 3/4; bigrams [aa, aa, ab] -> 2/3
        (1, "x y x y x"),    # top token 3/5; bigrams [xy, yx, xy, yx] -> 2/4
        (2, "unique words only here"),  # all distinct -> 1/4 and 1/3
        (3, "solo"),         # one token: no bigrams -> 0.0 by convention
        (4, ""),             # empty -> both 0.0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["tt"], r["tb"])
        for r in df.select(
            "doc_id",
            top_token_fraction("text").alias("tt"),
            top_bigram_fraction("text").alias("tb"),
        ).collect()
    }
    assert got[0] == (3 / 4, 2 / 3)
    assert got[1] == (3 / 5, 2 / 4)
    assert got[2] == (1 / 4, 1 / 3)
    assert got[3] == (1.0, 0.0)
    assert got[4] == (0.0, 0.0)


def test_repetition_is_shuffle_free(spark):
    df = spark.createDataFrame([(0, "a b a")], ["doc_id", "text"])
    plan = (
        df.select(top_token_fraction("text"), top_bigram_fraction("text"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the 100 TB contract: per-row HOF counting, no explode/groupBy
    assert "Exchange" not in plan and "Generate" not in plan


def test_redact_pii_and_counts(spark):
    from candia_spark.functions.text import pii_counts, redact_pii

    rows = [
        (0, "mail a.b+c@x-mail.co.uk and b@y.io call 555-0100 now"),
        (1, "no pii here at all"),
        (2, "edge: @not-an-email, 12-3456 not a phone, 555-12345 matches prefix"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ne, np_ = pii_counts("text")
    got = {
        r["doc_id"]: (r["ne"], r["np"], r["clean"])
        for r in df.select(
            "doc_id", ne.alias("ne"), np_.alias("np"), redact_pii("text").alias("clean")
        ).collect()
    }
    assert got[0][:2] == (2, 1)
    assert got[0][2] == "mail <EMAIL> and <EMAIL> call <PHONE> now"
    assert got[1] == (0, 0, "no pii here at all")
    # '555-1234' inside '555-12345' still matches the 3-4 digit shape
    assert got[2][:2] == (0, 1)


def test_fingerprint_whitespace_canonical(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]
    assert fps[1] == hashlib.md5(b"hello world").hexdigest()


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [
        (0, bytearray(bytes(range(64)))),
        (1, bytearray(b"\xff" * 17)),
        (2, bytearray(b"")),
    ]
    return spark.createDataFrame(rows, ["doc_id", "payload"]).cache()


def test_binary_metadata(payloads):
    got = {r["doc_id"]: (r["n_bytes"], r["digest"]) for r in binary_metadata(payloads).collect()}
    assert got[0][0] == 64 and got[1][0] == 17 and got[2][0] == 0
    assert got[2][1] == hashlib.md5(b"").hexdigest()


def test_fake_decode_deterministic():
    f1 = _fake_decode(bytes(range(64)), 8)
    f2 = _fake_decode(bytes(range(64)), 8)
    assert np.array_equal(f1, f2) and f1.shape == (8,)
    # byte-window means of 0..63 in 8 chunks: 3.5, 11.5, ...
    assert np.allclose(f1, [3.5 + 8 * i for i in range(8)])
    assert np.array_equal(_fake_decode(b"", 8), np.zeros(8))


def test_extract_features_plumbing(payloads):
    rows = extract_features(payloads, feature_dim=8).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == {0, 1, 2}
    assert by_id[0]["n_bytes"] == 64 and len(by_id[0]["features"]) == 8
    assert by_id[0]["features"][0] == 3.5
    assert by_id[2]["features"] == [0.0] * 8
    assert all(r["modality"] == "image" for r in rows)


def test_custom_decoder_injection(payloads):
    def decoder(payload: bytes, dim: int) -> np.ndarray:
        return np.full(dim, float(len(payload)))

    rows = extract_features(payloads, feature_dim=3, decoder=decoder, batch_note="audio").collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["features"] == [17.0, 17.0, 17.0]
    assert all(r["modality"] == "audio" for r in rows)


def _ref_dhash(payload: bytes) -> int:
    """Rule-by-rule python reference for multimodal.dhash64."""
    import numpy as np

    raw = np.frombuffer(payload, dtype=np.uint8)
    chunks = np.array_split(raw, 72)
    s = [int(c.sum()) for c in chunks]
    n = [int(c.size) for c in chunks]
    h = 0
    for r in range(8):
        for c in range(8):
            a, b = 9 * r + c, 9 * r + c + 1
            if s[a] * n[b] > s[b] * n[a]:
                h |= 1 << (8 * r + c)
    return h


def test_dhash64_matches_reference_and_packs_bands(spark):
    """dhash64 must equal the python reference bit-for-bit, pack the
    two 32-bit halves and four 16-bit bands consistently, and behave on
    the documented edges (empty payload -> 0; exact dup -> identical)."""
    import random

    from candia_spark.operators.multimodal import dhash64

    rng = random.Random(5)
    payloads = [bytes(rng.randrange(256) for _ in range(rng.randint(0, 300)))
                for _ in range(12)]
    payloads += [b"", payloads[0]]  # empty + exact dup
    rows = [(i, p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r.doc_id: r for r in dhash64(df).collect()}
    for i, p in rows:
        h = _ref_dhash(p)
        g = got[i]
        assert (g.h_hi, g.h_lo) == (h & 0xFFFFFFFF, h >> 32), i
        for b in range(4):
            assert g[f"band{b}"] == (h >> (16 * b)) & 0xFFFF, (i, b)
        assert g.n_bytes == len(p)
    assert got[len(payloads) - 1].h_hi == got[0].h_hi  # exact dup
    assert (got[len(payloads) - 2].h_hi, got[len(payloads) - 2].h_lo) == (0, 0)


def test_phash_near_dups_banding_recall_and_exact_distances(spark):
    """The banded candidate generation must be pigeonhole-complete for
    Hamming <= 3 (4 bands x 16 bits), and every reported distance must
    equal the brute-force XOR popcount. max_hamming=64 surfaces ALL
    banded candidates, so the reported set is exactly {banded pairs}
    with exact distances."""
    import random

    from candia_spark.operators.multimodal import phash_near_dups

    rng = random.Random(9)
    payloads = []
    base = bytes(rng.randrange(256) for _ in range(200))
    payloads.append(base)
    # perturbed copies (small byte edits -> small but nonzero distances)
    for k in (1, 3, 7):
        b = bytearray(base)
        for _ in range(k):
            b[rng.randrange(len(b))] = rng.randrange(256)
        payloads.append(bytes(b))
    payloads += [bytes(rng.randrange(256) for _ in range(200))
                 for _ in range(6)]
    rows = [(i, p) for i, p in enumerate(payloads)]
    hashes = {i: _ref_dhash(p) for i, p in rows}

    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dups(df, max_hamming=64).collect()
    }
    for i in hashes:
        for j in hashes:
            if i >= j:
                continue
            d = bin(hashes[i] ^ hashes[j]).count("1")
            shares_band = any(
                (hashes[i] >> (16 * b)) & 0xFFFF
                == (hashes[j] >> (16 * b)) & 0xFFFF
                for b in range(4)
            )
            if d <= 3:
                assert shares_band and got[(i, j)] == d, (i, j, d)
            if (i, j) in got:
                assert got[(i, j)] == d and shares_band, (i, j, d)
            else:
                assert not shares_band, (i, j, d)


def test_phash_near_dups_band_caps(spark):
    """The two-cap doctrine applies to hot band values: an absolute
    max_band_df drops a degenerate corpus-wide band (all-zero payloads)
    from candidate generation entirely."""
    from candia_spark.operators.multimodal import phash_near_dups

    rows = [(i, bytes(200)) for i in range(8)]  # identical flat images
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    assert phash_near_dups(df, max_hamming=0).count() == 28  # 8C2
    assert phash_near_dups(df, max_hamming=0, max_band_df=4).count() == 0


def test_phash_hot_band_cap_is_recorded_without_a_job(spark, monkeypatch):
    """A forced hot pHash band is recorded as ``hot_keys.band`` under the
    caller's job group, and recording starts no Spark job: the call
    starts as many jobs as the same call with recording switched off."""
    from candia_spark import telemetry
    from candia_spark.operators.multimodal import phash_near_dups

    sc = spark.sparkContext
    rows = [(i, bytes(200)) for i in range(8)]  # one shared value per band
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")

    def jobs_for(tag: str) -> int:
        sc.setJobGroup(tag, tag)
        try:
            phash_near_dups(df, max_hamming=0, max_band_df=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    recorded = jobs_for("hot_band")
    assert telemetry.pop("hot_band")["hot_keys"] == {"band": 4}
    monkeypatch.setattr(telemetry, "record", lambda op, **fields: None)
    assert jobs_for("hot_band_silent") == recorded
    assert telemetry.pop("hot_band_silent") == {}


def test_dhash64_null_payload_is_empty(spark):
    """A NULL binary payload hashes like an empty one (the null-text
    doctrine applied to binary) instead of crashing the Arrow batch."""
    from candia_spark.operators.multimodal import dhash64

    df = spark.createDataFrame(
        [(1, None), (2, b"")], "doc_id bigint, payload binary"
    )
    got = {r.doc_id: (r.n_bytes, r.h_hi, r.h_lo) for r in dhash64(df).collect()}
    assert got[1] == (0, 0, 0) and got[2] == (0, 0, 0)


def test_canonical_url_rules_by_hand(spark):
    """Every canonicalization rule on hand cases, including the edges:
    scheme-less values pass through the generic rules only, consecutive
    tracking params heal their separators, ports survive in the
    canonical form but not in url_host, single-label hosts have no
    registered domain."""
    from candia_spark.functions.text import (
        canonical_url,
        url_host,
        url_registered_domain,
    )

    cases = [
        ("HTTPS://WWW.Ex.COM/Path?a=1#f", "https://www.ex.com/Path?a=1"),
        ("https://ex.com/?utm_source=x", "https://ex.com"),
        ("https://ex.com/p?utm_a=1&utm_b=2", "https://ex.com/p"),
        ("https://ex.com/p?utm_a=1&q=2", "https://ex.com/p?q=2"),
        ("https://ex.com/p?q=2&gclid=g", "https://ex.com/p?q=2"),
        ("https://ex.com:8080/p/", "https://ex.com:8080/p"),
        ("no-scheme/Path/#frag", "no-scheme/Path"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i bigint, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])

    hd = df.select(
        "i", url_host("url").alias("h"), url_registered_domain("url").alias("d")
    ).collect()
    by = {r.i: (r.h, r.d) for r in hd}
    assert by[0] == ("www.ex.com", "ex.com")
    assert by[5] == ("ex.com", "ex.com")  # port stripped from host
    assert by[6] == ("", "")              # scheme-less: no host

    single = spark.createDataFrame(
        [(0, "https://localhost/x")], "i bigint, url string"
    ).select(url_host("url").alias("h"), url_registered_domain("url").alias("d")).collect()[0]
    assert (single.h, single.d) == ("localhost", "")
