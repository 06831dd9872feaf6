"""Text-analysis column functions for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting. All built-in expressions
(no UDFs) with DuckDB-mirrorable semantics — each has an oracle in
plans.queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword marker sets (shared verbatim with the SQL
# oracles). Deliberately tiny: the operator contract is "deterministic
# n-gram/stopword heuristic", not a trained model.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "nicht", "das"],
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS_EN = LANG_MARKERS["en"]

_TOKEN_REGEX = "[a-z0-9]+"


def tokens(text_col: str = "text") -> Column:
    """Lowercased word tokens (split on single spaces, empties dropped) —
    the tokenization convention shared with every oracle."""
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col)).cast("bigint")


def regex_token_count(text_col: str = "text") -> Column:
    """BPE-ish sub-token count: maximal [a-z0-9]+ runs (a cheap stand-in
    for byte-pair pieces; punctuation splits)."""
    return F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOKEN_REGEX), 0)).cast(
        "bigint"
    )


def lang_id_from_distinct(distinct_tokens: Column) -> Column:
    """Predicted language from a pre-computed distinct-token array column:
    argmax marker hits, ties -> lexicographically first language, no hits
    -> 'und'. Taking the materialized column (instead of re-tokenizing per
    language) keeps the plan to ONE tokenize + 5 intersects per row — the
    nested-when formulation re-evaluated the tokenizer exponentially."""
    langs = sorted(LANG_MARKERS)
    entries = []
    for i, g in enumerate(langs):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[g]])
        entries.append(
            F.struct(
                F.size(F.array_intersect(distinct_tokens, markers)).alias("s"),
                # ties must pick the lexicographically FIRST language while
                # array_max picks the largest struct -> invert the rank
                F.lit(len(langs) - i).alias("rev_rank"),
                F.lit(g).alias("g"),
            )
        )
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["g"]).otherwise(F.lit("und"))


def quality_score(text_col: str = "text") -> Column:
    """Deterministic [0,1] quality heuristic:
      0.4 * min(1, n_tokens/50)            (length)
    + 0.3 * (distinct_tokens / n_tokens)   (lexical diversity)
    + 0.3 * min(1, 5 * stopword_ratio)     (stopword plausibility)
    Unrounded double; 0 for empty text.
    """
    toks = tokens(text_col)
    n = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    stop = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(50.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_hits / n)
    )
    # no rounding: identical IEEE expression on both engines is bit-exact;
    # rounding short-repr doubles is what diverges (see functions.numeric)
    return F.when(n > 0, score).otherwise(F.lit(0.0)).cast("double")


def _bigrams(toks: Column) -> Column:
    """Word-bigram array from a token array (zip of the array with its own
    1-shifted slice; the trailing null pair is filtered out)."""
    grams = F.zip_with(
        toks,
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1))),
        lambda a, b: F.concat(a, F.lit("\x1f"), b),
    )
    return F.filter(grams, lambda g: g.isNotNull())


def _top_count(arr: Column) -> Column:
    """Highest multiplicity of any element in an array column, computed as
    the longest equal-run of the SORTED array: O(len log len) per row
    instead of the O(distinct x len) count-each-distinct formulation
    (measured ~2x on the bench corpus; the gap widens with vocabulary).
    Returns 1 for single-element arrays; callers guard the empty case."""
    s = F.sort_array(arr)
    # eq[i] = 1 iff s[i+1] == s[i]; the trailing pair-with-null yields null,
    # coalesced to 0 (run break) inside the fold.
    eq = F.zip_with(
        s,
        F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(1))),
        lambda a, b: (a == b).cast("int"),
    )
    acc = F.aggregate(
        eq,
        F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")),
        lambda st, x: F.struct(
            F.when(F.coalesce(x, F.lit(0)) == 1, st["cur"] + 1)
            .otherwise(F.lit(1))
            .alias("cur"),
            F.greatest(
                st["best"],
                F.when(F.coalesce(x, F.lit(0)) == 1, st["cur"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
    )
    return acc["best"]


def top_token_fraction(text_col: str = "text") -> Column:
    """Fraction of token slots occupied by the single most frequent token —
    the Gopher-style "top word" repetition signal (Rae et al. 2021 use the
    same family of thresholds to drop degenerate/boilerplate documents).

    Shuffle-free by design: counting happens inside the row with array
    higher-order functions (sorted-run counting, :func:`_top_count`), so
    at 100 TB this is a pure map over the corpus scan — no explode, no
    groupBy.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    return F.when(
        n > 0, _top_count(toks).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def top_bigram_fraction(text_col: str = "text") -> Column:
    """Fraction of bigram slots occupied by the most frequent word bigram
    (the 2-gram member of Gopher's duplicate-n-gram family). Same
    shuffle-free per-row counting as :func:`top_token_fraction`."""
    grams = _bigrams(tokens(text_col))
    n = F.size(grams)
    return F.when(
        n > 0, _top_count(grams).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def normalize_text(text_col: str = "text") -> Column:
    """Canonical text normalization for dedup-modulo-formatting: lowercase,
    map every non-[a-z0-9 ] character to a space, collapse space runs,
    trim. The regex chain is pure ``regexp_replace`` — whole-stage codegen,
    no UDF, a map over the scan at any corpus size — and uses only syntax
    with identical semantics in Java regex (Spark) and RE2 (DuckDB), so
    the normalized string is byte-identical cross-engine (the property the
    q56 oracle hashes). Distinct from :func:`fingerprint`, which collapses
    whitespace only: normalization also erases punctuation/casing variants,
    the usual near-exact-dup channel in crawled corpora."""
    x = F.lower(F.col(text_col))
    x = F.regexp_replace(x, "[^a-z0-9 ]", " ")
    x = F.regexp_replace(x, " +", " ")
    return F.trim(x)


def fingerprint(text_col: str = "text") -> Column:
    """Canonical document fingerprint: md5 of the text with whitespace
    collapsed and sorted-token normalization removed (pure md5 of the
    squeezed lowercase text) — a deterministic stand-in for a rolling-hash
    fingerprint that both engines compute identically."""
    squeezed = F.regexp_replace(F.trim(F.lower(F.col(text_col))), "\\s+", " ")
    return F.md5(squeezed)


# PII patterns shared verbatim with the SQL oracles. Deliberately restricted
# to syntax with identical semantics in Java regex (Spark) and RE2 (DuckDB):
# character classes, bounded quantifiers, no lookaround, no \b/\d shorthand.
EMAIL_REGEX = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_REGEX = "[0-9]{3}-[0-9]{4}"


def pii_counts(text_col: str = "text") -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts — the audit columns a redaction
    pass reports per document."""
    t = F.col(text_col)
    return (
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_REGEX), 0)).cast("bigint"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_REGEX), 0)).cast("bigint"),
    )


def redact_pii(text_col: str = "text") -> Column:
    """Text with email addresses and phone numbers replaced by typed
    placeholder tokens — the standard pre-training scrub. Pure
    ``regexp_replace`` chain: stays in codegen, no UDF, a map over the
    scan at any corpus size. Emails are replaced before phones so a digit
    run inside an address can't double-match."""
    t = F.col(text_col)
    t = F.regexp_replace(t, EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(t, PHONE_REGEX, "<PHONE>")


# URL canonicalization — the RefinedWeb/FineWeb dedup-by-URL stage.
# Deliberately backreference-free: Spark (Java regex) spells group
# replacements "$1" while DuckDB (RE2) spells them "\\1", so a gated
# canonicalizer may never use one — each rule is a plain replace, and
# scheme/host casing is handled by extract-and-rebuild instead of a
# grouped rewrite.
_TRACKING = "(utm_[^=&#]*|gclid|fbclid)"


def canonical_url(url_col) -> Column:
    """Canonical form of a URL column: scheme and host lowercased
    (path/query stay case-sensitive), #fragment dropped, tracking
    parameters (utm_*, gclid, fbclid) removed with separators healed,
    trailing slash stripped. Pure regexp chain — codegen'd, no UDF —
    and every rule is engine-exactly recomputable (q104)."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    # no scheme -> leave the value as-is apart from the generic rules
    rebuilt = F.when(
        scheme != "", F.concat(scheme, F.lit("://"), host, rest)
    ).otherwise(u)
    c = F.regexp_replace(rebuilt, r"#.*", "")
    c = F.regexp_replace(c, "&" + _TRACKING + "=[^&#]*", "")
    c = F.regexp_replace(c, r"\?" + _TRACKING + "=[^&#]*&", "?")
    c = F.regexp_replace(c, r"\?" + _TRACKING + "=[^&#]*$", "")
    return F.regexp_replace(c, "/$", "")


def url_host(url_col) -> Column:
    """Lowercased host (no port) of a URL column."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)", 1)
    )


def url_registered_domain(url_col) -> Column:
    """Naive registered domain: the last two dot-labels of the host
    ('a.b.example.com' -> 'example.com'). A production deployment swaps
    this for a public-suffix-list lookup (a broadcast join against the
    PSL table — same plan shape); the two-label rule keeps the gated
    path dependency-free and engine-exact."""
    return F.regexp_extract(url_host(url_col), r"([^.]+\.[^.]+)$", 1)


def char_census_counts(text_col: str = "text") -> Column:
    """Per-distinct-character occurrence counts as an array<bigint>,
    computed WITHOUT exploding: for each distinct char c,
    ``count(c) = length(text) - length(replace(text, c, ''))``. A pure
    per-row HOF (the q44 zero-exchange device) — O(D*N) work per row
    for D distinct chars, but no shuffle and no char-row blowup, which
    is the right trade at corpus scale (exploding a 100 TB corpus to
    one row per CHARACTER is the plan that never finishes)."""
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text == empty census,
    # not a NULL array poisoning every downstream agg (the null-key class)
    dis = F.filter(F.array_distinct(F.split(t, "")), lambda c: c != "")
    return F.transform(
        dis,
        lambda c: (F.length(t) - F.length(F.replace(t, c, F.lit("")))).cast(
            "bigint"
        ),
    )


def char_entropy_bits(counts: Column, n_chars: Column) -> Column:
    """Integer-exact character-entropy surrogate:
    ``sum_c count_c * (bitlen(N) - bitlen(count_c))`` — the floor-log2
    self-information mass in bits (the q84/q109 integer-bits device
    applied to the char census). Exactly 0 for a one-char-repeated
    document, large for high-entropy text; monotone with true Shannon
    entropy at the resolution quality filters cut on. Chosen over
    ``log2`` deliberately: JVM Math.log2 and libm disagree in the last
    ulp on ~28%% of integer inputs, so a float entropy can flip a
    ROUND(…,6) gate — bitlen is exact on both engines."""
    bitlen_n = F.length(F.bin(n_chars.cast("bigint"))).cast("bigint")
    return F.aggregate(
        counts,
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + c * (bitlen_n - F.length(F.bin(c)).cast("bigint")),
    )
