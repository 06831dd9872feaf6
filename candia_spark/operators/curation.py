"""Corpus-curation operators for training-data pipelines: sequence
packing, IDF-census term profiling, and per-source capping.

These are the assembly steps that sit between a cleaned/deduplicated
corpus and the trainer: concatenate documents into fixed-token training
sequences (packing), profile each document's most corpus-distinctive
term (an IDF-census pass, the deterministic core of TF-IDF scoring), and
bound any one source's share of the mix (per-source caps). Each is a
pure DataFrame composition — windows partitioned by a bounded key, one
small broadcastable census, no UDFs — so every plan scales with the
corpus, not the driver.

All outputs are integers, strings, or single-division doubles, so every
operator is value-exactly recomputable by an ANSI engine (the DuckDB
oracles in plans.queries certify q51-q53 end to end).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from candia_spark.functions.text import tokens


def pack_sequences(
    df: DataFrame,
    budget: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, documents are
    laid end-to-end in ``id_col`` order into one token stream, which is
    cut into training sequences of ``budget`` tokens. A document's
    ``seq_id`` is the sequence its FIRST token lands in (documents may
    straddle a boundary and spill into the next sequence — the standard
    packing semantics; ``end_seq_id`` says how far it spills).

    Output: (id, shard, n_tokens, start_offset, seq_id, offset_in_seq,
    end_seq_id) — all bigint, so the result is hash-exact cross-engine.

    Scale: the only shuffle is the window partitioned by ``shard_col``.
    Shards are the parallelism unit — a 100 TB corpus packs per
    source/dump/crawl-shard concurrently, and no global total order (the
    classic single-partition window trap) ever exists in the plan. A
    shard's stream position is a running sum over that shard alone, so
    skew is bounded by the largest single source.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tokens = F.size(tokens(text_col)).cast("bigint")
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    out = (
        df.select(
            F.col(id_col),
            F.col(shard_col).alias("shard"),
            n_tokens.alias("n_tokens"),
        )
        .withColumn("start_offset", start)
        # floor(), not a double->bigint cast: Spark's cast truncates but
        # ANSI engines round, and floor is what both agree on
        .withColumn(
            "seq_id", F.floor(F.col("start_offset") / budget).cast("bigint")
        )
        .withColumn("offset_in_seq", F.col("start_offset") % budget)
        .withColumn(
            "end_seq_id",
            F.floor(
                F.greatest(
                    F.col("start_offset"),
                    F.col("start_offset") + F.col("n_tokens") - 1,
                )
                / budget
            ).cast("bigint"),
        )
    )
    return out


def top_tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    census: DataFrame | None = None,
    broadcast_census: bool = True,
) -> DataFrame:
    """Each document's most corpus-distinctive term: argmax over its
    tokens of score = tf / df (term frequency over document frequency —
    the exact-rational core of TF-IDF: for a fixed document, tf/df and
    tf*idf(df) induce very similar rankings, and tf/df is one integer
    division, so the score is bit-exact on every IEEE engine, where a
    transcendental idf = ln(N/df) is not). Ties break on the
    lexicographically smallest token.

    Output: (id, top_token, tf, df, score).

    Scale: one explode + (doc, token) count, a join against the
    vocabulary-sized census (broadcast — no corpus shuffle on the token
    key), and a per-document window for the argmax. The census is
    computed once and reusable across consumers (pass it in to share).
    ``broadcast_census=False`` is the web-scale escape hatch: a unigram
    vocabulary over noisy crawl text can outgrow the executor broadcast
    budget, and then the right plan is an ordinary shuffle-hash join on
    the token key (the tf side is already shuffled on (doc, token), so
    the extra exchange is census-sized, not corpus-sized).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    if census is None:
        # df(token) = number of documents containing it = row count per
        # token in tf (one row per distinct (doc, token)) — derived from
        # the aggregate already in the plan, so the corpus is tokenized
        # and exploded ONCE, not a second time for a separate census
        census = tf.groupBy("token").agg(
            F.count(F.lit(1)).cast("bigint").alias("df")
        )
    census_side = F.broadcast(census) if broadcast_census else census
    scored = tf.join(census_side, "token").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("token").alias("top_token"),
            "tf",
            "df",
            "score",
        )
    )


def normalized_exact_dups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup modulo formatting: group documents by the md5 of their
    normalized text (functions.text.normalize_text — casing, punctuation
    and whitespace variants collapse into one digest) and elect the
    smallest id per group as keeper. Catches the near-exact-dup channel
    that raw exact dedup (operators.dedup.exact_dedup) misses — the same
    page re-crawled with different markup — without any pair generation.

    Output: (id, norm_digest, group_size, keeper_id, keep) — ``keep`` is
    the survivor bit a downstream filter consumes.

    Scale: ONE shuffle, keyed by the 32-hex digest (never the text): the
    group statistics are window aggregates over the digest partition, so
    no census join and no second pass over the corpus. Skew is bounded by
    the largest duplicate cluster, the same contract as exact_dedup.
    """
    from candia_spark.functions.text import normalize_text

    w = Window.partitionBy("norm_digest")
    return (
        df.select(
            F.col(id_col),
            F.md5(normalize_text(text_col).cast("binary")).alias("norm_digest"),
        )
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("keeper_id", F.min(id_col).over(w).cast("bigint"))
        .withColumn("keep", F.col(id_col) == F.col("keeper_id"))
    )


def cap_per_source(
    df: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Bound any one source's contribution to ``cap`` documents, chosen
    deterministically: rank a source's documents by md5(id || salt) (a
    content-keyed shuffle order — reproducible across runs, engines and
    partitionings, unlike a sampled fraction whose RNG state moves) and
    keep ranks 1..cap. Changing ``salt`` re-draws which documents survive
    without touching the contract.

    Output: the surviving rows plus their ``src_rank`` (1-based).

    Scale: one window partitioned by source — the same shape as packing;
    per-source skew is the only hotspot and the cap itself bounds the
    output. For the common case cap << source size this beats a
    sort-limit per source collected to the driver by never materializing
    a global order.
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    pri = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)).cast("binary")
    )
    w = Window.partitionBy(source_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        df.withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("src_rank") <= cap)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping fixed-token windows — the
    context-window preprocessing step for embedding/retrieval pipelines
    (pack_sequences concatenates ACROSS documents for training;
    chunk_documents splits WITHIN a document for indexing): windows start
    every ``stride = chunk_tokens - overlap`` tokens and carry up to
    ``chunk_tokens`` tokens (the final window may be shorter — truncated,
    never padded). Empty documents emit no chunks.

    Output: (id, chunk_id, start_token, n_chunk_tokens, chunk_text),
    chunk_id 0-based per document.

    Scale: a pure map — tokens, a per-row ``sequence`` of window starts,
    one explode, one ``slice`` per chunk. No shuffle, no window function,
    no UDF; output size is input tokens x (1 + overlap/stride).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not (0 <= overlap < chunk_tokens):
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    # guard the sequence: F.sequence(0, -1) would count DOWN ([0, -1]);
    # empty docs must emit an empty array (explode then drops the row)
    n_chunks = F.floor((n - 1) / stride).cast("bigint") + 1
    starts = F.when(n > 0, F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).otherwise(
        F.array().cast("array<bigint>")
    )
    chunk = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return (
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.explode(starts).alias("chunk_id"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_token"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def mixture_targets(weights: dict[str, float], total: int) -> dict[str, int]:
    """Exact per-source targets for :func:`sample_to_mixture`:
    ``floor(weight * total)`` computed in rational arithmetic
    (``Fraction(str(w))`` — the DECIMAL the caller wrote, not the binary
    double it parsed to). ``int(w * total)`` in binary floating point can
    undercount the documented floor (``int(0.29 * 100) == 28``, exact
    floor is 29); both the operator and the q66 oracle draw their targets
    from this one helper so the two can never disagree (advice r6 #4)."""
    from fractions import Fraction

    return {
        s: int(Fraction(str(w)) * total) for s, w in weights.items()
    }


def sample_to_mixture(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic mixture sampling: draw a corpus of ~``total``
    documents matching target source proportions — the data-mixing step
    that turns per-source corpora into a training mix (e.g. 60% web, 30%
    code, 10% books). Each source contributes its ``floor(weight *
    total)`` lowest-ranked documents under the md5 content-keyed order
    (the :func:`cap_per_source` device), so the drawn set is reproducible
    across runs, engines and partitionings; sources missing from
    ``weights`` are excluded, and a source smaller than its target
    contributes everything it has (the shortfall is visible as
    ``src_rank < target`` exhausting early, not silently rebalanced —
    rebalancing policy belongs to the caller).

    Output: surviving rows + (src_rank, target) per row.

    Scale: one tiny broadcast of the weights table and one window
    partitioned by source — identical shape to :func:`cap_per_source`.
    """
    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    if not weights:
        raise ValueError("weights must be a non-empty {source: weight} dict")
    if any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative, got {weights}")
    targets = df.sparkSession.createDataFrame(
        list(mixture_targets(weights, total).items()),
        f"{source_col} string, target bigint",
    )
    pri = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)).cast("binary")
    )
    w = Window.partitionBy(source_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(targets), source_col)
        .withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("src_rank") <= F.col("target"))
    )


def score_percentiles(
    df: DataFrame,
    score,
    id_col: str = "doc_id",
    buckets: int = 1000,
) -> DataFrame:
    """Exact percentile of a [0,1] score for every document — the quality
    gate that keeps "top X% of the corpus" reproducible. ``score`` is a
    Column expression that MUST be non-null for every row (enforced — a
    null score raises instead of silently dropping the row); each
    document gets ``bucket = floor(score * buckets)``, ``n_below`` =
    documents in strictly lower buckets, and ``pct = n_below / total``
    (exact integer division — bit-identical cross-engine).

    Scale design — the single-partition window trap, dodged: a corpus-wide
    ``percent_rank()`` pulls 100 TB through ONE task. Here the cumulative
    sum runs over the BUCKET CENSUS (<= buckets+1 rows — the one place a
    single-partition window is harmless), and the corpus only does a map
    (each score's bucket) plus a broadcast join against the tiny
    cumulative table.
    Discretization uses floor of the exact score double, not decimal
    rounding: floor of identical IEEE doubles is engine-exact, where
    round-to-decimal of short-repr doubles is the known divergence
    (functions.numeric).
    """
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    from candia_spark.operators.materialize import cut

    # the (id, bucket) table feeds BOTH the census and the final join —
    # cut it so the (possibly expensive) score expression evaluates over
    # the corpus once, not once per branch. The non-null score contract
    # is ENFORCED here (ADVICE r5): a NULL bucket would silently drop the
    # row at the inner join below, and a null census row sorts
    # nulls-first in Spark's window but nulls-last in DuckDB — so an
    # arbitrary score expression that can return NULL fails loudly
    # instead of diverging quietly.
    raw_bucket = F.floor(score * buckets).cast("bigint")
    bucket = F.when(raw_bucket.isNotNull(), raw_bucket).otherwise(
        F.raise_error(
            F.lit(
                "score_percentiles: score expression evaluated to NULL "
                "for some document — the score must be non-null over the "
                "whole corpus (filter or coalesce it first)"
            )
        )
    )
    scored, _ = cut(df.select(F.col(id_col), bucket.alias("bucket")))
    census = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_bucket")
    )
    w_below = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = census.select(
        "bucket",
        "n_in_bucket",
        F.coalesce(F.sum("n_in_bucket").over(w_below), F.lit(0))
        .cast("bigint")
        .alias("n_below"),
        F.sum("n_in_bucket").over(w_all).cast("bigint").alias("total"),
    )
    return scored.join(F.broadcast(cum), "bucket").select(
        F.col(id_col),
        "bucket",
        "n_below",
        (F.col("n_below").cast("double") / F.col("total")).alias("pct"),
    )


def curate_corpus(
    df: DataFrame,
    min_quality: float = 0.5,
    source_cap: int = 40,
    budget: int = 256,
    salt: str = "cur",
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """End-to-end corpus curation — the text-side twin of
    operators.dedup.dedup_corpus: normalized exact dedup (keep smallest id
    per formatting-variant group) -> quality-score floor -> deterministic
    per-source cap -> sequence packing. Returns the packing table
    (id, shard, n_tokens, start_offset, seq_id, offset_in_seq,
    end_seq_id) for the surviving documents — what a trainer's data
    loader actually consumes.

    Every stage keeps its own scale contract (digest-keyed dedup shuffle,
    pure-map scoring, source-partitioned windows); the composition adds
    only one semi join on the bare id to apply the dedup verdict. The
    quality floor compares the exact score double against the literal —
    both engines compute the identical IEEE value, so the kept set is
    engine-exact (q62's oracle recomputes the whole chain).
    """
    from candia_spark.functions.text import quality_score

    keepers = (
        normalized_exact_dups(df, id_col=id_col, text_col=text_col)
        .filter(F.col("keep"))
        .select(id_col)
    )
    survivors = df.join(keepers, id_col, "left_semi")
    q_ok = survivors.filter(quality_score(text_col) >= F.lit(min_quality))
    capped = cap_per_source(
        q_ok, cap=source_cap, source_col=source_col, id_col=id_col, salt=salt
    )
    return pack_sequences(
        capped, budget=budget, shard_col=source_col, id_col=id_col,
        text_col=text_col,
    )


def sample_to_temperature(
    df: DataFrame,
    total: int,
    alpha_sqrt: bool = True,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture sampling (the multilingual-LM
    up/down-sampling rule): per-source targets proportional to
    ``count^alpha`` with alpha = 0.5, i.e. ``target_s = floor(total *
    sqrt(c_s) / Σ_j sqrt(c_j))`` — smaller sources are up-weighted
    relative to their share, the standard fix for head-language
    domination. Unlike :func:`sample_to_mixture` the weights derive from
    the DATA (the source census), not a caller dict.

    Cross-engine exactness for a data-derived float expression: sqrt of
    identical doubles is IEEE-correctly-rounded in both engines, and the
    denominator is a deterministic LEFT FOLD over the census sorted by
    source name (one ~5-row array in a 1-row aggregate) rather than a
    SUM whose accumulation order the engine chooses — the one device
    that makes a float reduction hash-comparable. Everything after the
    targets is :func:`sample_to_mixture`'s md5-ranked survivor window.

    Scale: the census is a tiny keyed aggregate, the fold is one row,
    targets broadcast, and the corpus pays one window partitioned by
    source — identical shape to :func:`cap_per_source`. ``alpha_sqrt``
    is the only exposed temperature (alpha=0.5): arbitrary alpha needs
    pow(), whose cross-engine rounding is NOT guaranteed; extend with a
    rational-exponent chain of sqrt() calls if another temperature is
    ever needed.

    SAMPLING IS WITHOUT REPLACEMENT, so this operator can only
    DOWN-sample: a small source whose target exceeds its row count
    (e.g. counts {1, 10000} with total=1000 give the 1-row source
    target 9) is silently capped at its population — the rank filter
    keeps all c_s rows and the realized mixture deviates from the
    count^alpha proportions. The ``target`` column rides in the output
    for exactly this audit: ``groupBy(source).agg(count(*), first
    (target))`` exposes any per-source deficit (realized < target), and
    a caller that needs true temperature up-sampling must replicate
    deficient sources (an epoch/repeat-factor decision that belongs to
    the training loader, not a without-replacement sampler).
    """
    if total <= 0:
        raise ValueError(f"total must be positive, got {total}")
    if not alpha_sqrt:
        raise ValueError(
            "only alpha=0.5 (sqrt) is supported: pow() is not "
            "cross-engine exact; see docstring"
        )
    census = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    denom = census.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col(source_col), F.col("__c")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + F.sqrt(x["__c"].cast("double")),
        ).alias("__denom")
    )
    targets = census.crossJoin(F.broadcast(denom)).select(
        source_col,
        F.floor(
            F.lit(float(total))
            * (F.sqrt(F.col("__c").cast("double")) / F.col("__denom"))
        )
        .cast("bigint")
        .alias("target"),
    )
    pri = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(salt)).cast("binary")
    )
    w = Window.partitionBy(source_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(targets), source_col)
        .withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("src_rank") <= F.col("target"))
    )


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot delta between two corpus versions: (id, status, old_digest,
    new_digest) with status in {'added', 'removed', 'changed',
    'unchanged'} — the audit table a rolling-ingestion pipeline emits per
    refresh (what changed between yesterday's corpus and today's?), and
    the input to incremental consumers that only want to reprocess the
    added/changed slice instead of the full corpus.

    Content identity is the md5 of the text (cross-engine exact), so a
    re-crawled byte-identical document is 'unchanged' regardless of
    arrival order, and a same-id different-text row is 'changed'.

    Scale: each side collapses to (id, digest) map-side — the full outer
    join exchanges 48-byte rows keyed by id, never text. One shuffle,
    AQE-handled; at 100 TB the practical deployment sorts/buckets both
    snapshots by id at write time and the join becomes exchange-free."""
    old_d = old_df.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("old_digest"),
    )
    new_d = new_df.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("new_digest"),
    )
    joined = old_d.join(new_d, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col(id_col), status.alias("status"), "old_digest", "new_digest"
    )


def bpe_merge_pairs(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer induction, step one: the ``k`` most frequent adjacent
    character pairs over the corpus vocabulary, weighted by word
    frequency — exactly the statistic the first byte-pair-encoding merge
    maximizes (Sennrich et al. 2016: repeatedly merge the most frequent
    symbol pair; this operator computes one merge round's candidate
    table, which is also the "what would a tokenizer learn from this
    corpus" audit a data-mixture change is checked against).

    Output: (pair, weight), weight = Σ over vocabulary words of
    count(word) · occurrences(pair in word), ordered by
    (weight DESC, pair ASC) and cut to ``k`` — an integer-exact,
    deterministic table (ties broken lexicographically).

    Scale: the ONLY corpus-sized operation is the word-frequency
    group-by (one shuffle with map-side partial aggregation over
    whitespace tokens). Pair expansion runs on the DISTINCT-word table —
    vocabulary-sized, orders of magnitude smaller than the corpus by
    Heaps' law — entirely in codegen (``transform(sequence(..),
    substr)``; no UDF, no join), and the final top-k is a
    TakeOrdered, not a global sort shuffle. Weights are bounded by the
    corpus character count, far inside bigint at 100 TB (~1e14 < 2^63);
    ANSI Spark would raise, not wrap, were that ever exceeded.

    Single-character words carry no pair and are filtered BEFORE the
    ``sequence(1, length-1)`` expansion (Spark's ``sequence(1, 0)``
    counts DOWN — [1, 0] — so the guard is load-bearing, not cosmetic).
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("weight"))
        .orderBy(F.col("weight").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_train(
    df: DataFrame,
    rounds: int = 5,
    text_col: str = "text",
    engine: str = "auto",
    local_budget_bytes: int = 256 * 2**20,
) -> DataFrame:
    """Multi-round byte-pair-encoding trainer — Sennrich et al. 2016's
    actual loop, graduating :func:`bpe_merge_pairs` (one round's
    candidate table, q83) into the tokenizer-induction capability a
    data pipeline runs: per round, census the adjacent symbol pairs
    over the vocabulary (weighted by word frequency), merge the most
    frequent pair everywhere, repeat on the rewritten vocabulary.

    Output: the merge TRAJECTORY — one row per round, (merge_round,
    lhs, rhs, merged, weight), ordered by merge_round; ties in the
    argmax break to the lexicographically smallest (lhs, rhs) so the
    whole trajectory is engine-exact (the q57/q73 unrolled-trajectory
    certification device — the oracle unrolls the same rounds as CTEs).
    Stops early if a round has no pairs left.

    Representation: each vocabulary word is a symbol SEQUENCE encoded
    as a single string — every symbol wrapped in single spaces, so
    symbols are joined by DOUBLE spaces (' a  b  c '; word characters
    never contain spaces, the tokenizer splits on them). The merge of
    (l, r) is then one literal ``replace(sym_str, ' l  r ', ' lr ')``
    — left-to-right, non-overlapping, exactly BPE's greedy merge
    semantics, in pure codegen (no UDF); adjacent merge sites share no
    characters in this encoding, so replace() consumes them all in one
    pass ('a a a a' -> 'aa aa', not 'aa a a'). Initial symbols are the
    word's characters via the q83 substr device (code-point exact in
    both engines).

    Scale shape: the corpus is touched ONCE (the word-frequency census,
    one shuffle with map-side partial agg). Every round after that runs
    on the VOCABULARY — Heaps-law sized, orders smaller than the
    corpus — and ``engine`` picks where those rounds run:

    - ``"distributed"`` — per round one pair-census aggregation + one
      TakeOrdered(1) argmax (collected to the driver, the k-means
      trajectory device: the merge must become a literal in the next
      round's replace) + one pure-map rewrite, re-materialized per
      round (the cut doctrine: without the cut, round i
      replays every earlier round's rewrite from lineage). Per-round
      cost tracks |vocab|, not the corpus (SCALING_r10 bpe leg) — but
      it is floored by Spark job-scheduling latency (~230 ms/round),
      which at a production 30k-50k-merge vocabulary is days of pure
      scheduling (verdict r10 #2).
    - ``"local"`` — collect the vocabulary ONCE after the corpus
      census and run every merge round in-process with an incremental
      pair census (Sennrich's reference structure: only words
      containing the merged pair are rewritten, and only their pair
      counts move). Identical trajectory — same census arithmetic,
      same (weight desc, l asc, r asc) argmax, same greedy
      left-to-right rewrite — pinned by the distributed≡local
      equivalence pytest and the shared property fuzz.
    - ``"auto"`` (default) — one tiny aggregate on the materialized
      vocab (row count + total sym_str bytes) routes: local when the
      census fits ``local_budget_bytes`` (it essentially always does —
      even a 100 TB corpus's ~1e8-word vocab is a few GB of short
      strings, and the budget is per-DRIVER, tunable), distributed
      otherwise.

    Weights are bounded by corpus character count (~1e14 at 100 TB,
    far inside bigint)."""
    from candia_spark.operators.materialize import cut

    if rounds <= 0:
        raise ValueError(f"rounds must be positive, got {rounds}")
    if engine not in ("auto", "local", "distributed"):
        raise ValueError(
            f"engine must be 'auto', 'local' or 'distributed', got {engine!r}"
        )
    spark = df.sparkSession
    # corpus pass: word census; 1-char words carry no pair ever and
    # never change (symbols merge only within a word) — drop them
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.length("word") >= 2)
    )
    # ' a  b  c ' — each character space-wrapped (the replace-merge
    # encoding above); substr is code-point indexed in both engines
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
    )
    vocab, _ = cut(
        words.select(
            F.concat(
                F.lit(" "), F.array_join(chars, "  "), F.lit(" ")
            ).alias("sym_str"),
            "cnt",
        )
    )
    out_schema = (
        "merge_round bigint, lhs string, rhs string, merged string, "
        "weight bigint"
    )
    use_local = engine == "local"
    if engine == "auto":
        stats = vocab.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.length("sym_str")), F.lit(0)).alias("chars"),
        ).collect()[0]
        # sym_str is ascii-wrapped word chars; budget in (utf8) bytes is
        # conservatively chars*4 — the census dict is the same order
        use_local = int(stats["chars"]) * 4 <= local_budget_bytes
    if use_local:
        return spark.createDataFrame(
            _bpe_train_local(
                [(r["sym_str"], int(r["cnt"])) for r in vocab.collect()],
                rounds,
            ),
            out_schema,
        )
    merges: list[tuple] = []
    for rnd in range(1, rounds + 1):
        syms = F.split(F.trim(F.col("sym_str")), "  ")
        m = F.greatest(F.size(syms) - 1, F.lit(0))
        census = (
            vocab.select(
                F.explode(
                    F.zip_with(
                        F.slice(syms, F.lit(1), m),
                        F.slice(syms, F.lit(2), m),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("bigint").alias("weight"))
        )
        best = (
            census.orderBy(F.col("weight").desc(), "l", "r").limit(1).collect()
        )
        if not best:
            break  # vocabulary fully merged — nothing left to count
        l, r, w = best[0]["l"], best[0]["r"], int(best[0]["weight"])
        merges.append((rnd, l, r, l + r, w))
        vocab, _ = cut(
            vocab.select(
                F.replace(
                    F.col("sym_str"),
                    F.lit(f" {l}  {r} "),
                    F.lit(f" {l}{r} "),
                ).alias("sym_str"),
                "cnt",
            )
        )
    return spark.createDataFrame(merges, out_schema)


def _bpe_train_local(
    vocab_rows: list[tuple[str, int]], rounds: int
) -> list[tuple]:
    """In-process merge loop for :func:`bpe_train` engine='local': the
    collected (sym_str, cnt) vocabulary, ``rounds`` rounds of
    argmax-and-merge with an INCREMENTAL pair census — per round only
    the words containing the merged pair are touched, so 30k-50k
    production merge rounds cost milliseconds each instead of a Spark
    job apiece. Trajectory-identical to the distributed loop:

    - the census is the same Σcnt over adjacent symbol pairs;
    - the argmax tie-break (weight desc, l asc, r asc) is a LAZY
      max-heap of ``(-w, (l, r))`` entries (stale entries from earlier
      counts are discarded at pop time by comparing against the live
      census) — heapq order on that tuple is exactly ``min`` over
      ``(-w, l, r)``, and python str comparison is code-point order,
      which equals Spark's UTF8 binary order (UTF-8 byte order
      preserves code-point order). Without the heap, a full-census
      argmax scan per round dominates: profiled 84% of wall at a
      10k-word vocabulary — the heap is what makes rounds sub-ms;
    - the rewrite is the same greedy left-to-right non-overlapping
      merge the wrapped-string replace() performs.
    """
    import heapq
    from collections import defaultdict

    words: list[tuple[list[str], int]] = [
        (s.strip().split("  "), c) for s, c in vocab_rows
    ]
    census: dict = defaultdict(int)
    postings: dict = defaultdict(set)
    heap: list = []

    def _add(idx: int) -> None:
        syms, cnt = words[idx]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            census[p] += cnt
            postings[p].add(idx)
            heapq.heappush(heap, (-census[p], p))

    def _remove(idx: int) -> None:
        syms, cnt = words[idx]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            census[p] -= cnt
            if census[p] == 0:
                del census[p]
                del postings[p]
            else:
                postings[p].discard(idx)
                heapq.heappush(heap, (-census[p], p))

    for idx in range(len(words)):
        _add(idx)

    merges: list[tuple] = []
    for rnd in range(1, rounds + 1):
        # discard stale heap entries until the top matches the live
        # census (a pair may have several entries from earlier counts;
        # only the one equal to its current count is valid)
        while heap and census.get(heap[0][1]) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap:
            break  # vocabulary fully merged — nothing left to count
        (l, r), w = heap[0][1], -heap[0][0]
        merges.append((rnd, l, r, l + r, int(w)))
        for idx in sorted(postings[(l, r)]):
            _remove(idx)
            syms, cnt = words[idx]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx] = (out, cnt)
            _add(idx)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: DataFrame | list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge list (:func:`bpe_train`'s trajectory)
    to every document — the other half of tokenizer induction, and the
    honest replacement for whitespace/regex token COUNTING in a data
    pipeline's budget audits: per word, start from characters, apply
    each merge in trajectory order (greedy left-to-right, the same
    replace-on-wrapped-symbols device as training), and count the
    resulting symbols. Output one row per document: (id, n_words,
    n_tokens) — n_tokens under the induced tokenizer; empty documents
    kept with zeros.

    ``merges`` is the bpe_train output DataFrame (collected here — it
    is ``rounds`` rows of driver data, never corpus data) or an already
    -collected list of (lhs, rhs) pairs in merge order.

    Scale shape: segmentation runs on the DISTINCT-WORD table
    (vocabulary-sized, Heaps-law small) as a pure map — one replace()
    per merge, chained in a single projection, no UDF; the only
    corpus-scale work is the explode + join of document tokens against
    the segmented vocabulary on ``word`` (AQE broadcasts the vocab side
    when it fits) and the per-doc aggregation. Unlike training, NO
    per-round driver action exists here — the merge list is already a
    literal."""
    if isinstance(merges, DataFrame):
        merges = [
            (r["lhs"], r["rhs"])
            for r in merges.orderBy("merge_round").collect()
        ]
    words = (
        df.select(F.explode(tokens(text_col)).alias("word")).distinct()
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
    )
    sym = F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))
    for l, r in merges:
        sym = F.replace(sym, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    seg = words.select(
        "word",
        F.size(F.split(F.trim(sym), "  ")).cast("bigint").alias("n_sym"),
    )
    doc_tokens = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("word")
    )
    agg = (
        doc_tokens.join(seg, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_tokens"),
        )
    )
    return df.select(F.col(id_col)).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
    )


def _dsir_features(text_col: str, ngram: int, buckets: int | None):
    """Feature column for the DSIR family: an array of per-document
    features — unigram tokens (``ngram=1``, Xie et al.'s baseline) or
    adjacent-bigram strings (``ngram=2``, the paper's actual hashed
    n-gram model: the importance weights see word ORDER, so reordered
    word salad stops scoring like target-domain prose). With
    ``buckets`` set, each feature is hashed to a bucket id — the
    fastText/DSIR hashing trick that caps the model at a fixed size
    regardless of vocabulary growth. The hash is the cross-engine md5
    device (q28/q87): first 15 hex chars -> 60-bit nonnegative int ->
    ``% buckets``, bit-identical in Spark and DuckDB (xxhash64 would be
    Spark-only and ungateable)."""
    if ngram not in (1, 2):
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    if buckets is not None and buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    toks = tokens(text_col)
    if ngram == 1:
        feats = toks
    else:
        m = F.greatest(F.size(toks) - 1, F.lit(0))
        feats = F.zip_with(
            F.slice(toks, F.lit(1), m),
            F.slice(toks, F.lit(2), m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    if buckets is None:
        return feats
    return F.transform(
        feats,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("bigint")
        % buckets,
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    buckets: int | None = None,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023: Data Selection for
    Language Models via Importance Resampling), integer-exact: score
    every corpus document by how much more its vocabulary looks like a
    TARGET domain than like the corpus itself, and flag the documents
    an importance-selection pass would keep. The published method
    weighs docs by Σ log p_target(feature) − log p_source(feature);
    the engine-exact stand-in prices each token at
    ``bits(count_target(tok)) − bits(count_source(tok))`` with
    bits(x) = length(bin(x)) — the same floor-log2 device as
    unigram_rarity/bigram_assoc (monotone in count, no libm), with
    tokens ABSENT from the target census priced at 0 target bits (the
    strongest available "not my domain" penalty that needs no
    smoothing constant).

    Output per non-empty document: (id, n_tokens, score_bits, selected)
    where selected = 1 iff the doc's mean per-feature score is ABOVE
    the corpus mean — cross-multiplied in decimal(38,0)
    (``score·Σn > Σscore·n``), division-free and sign-safe (scores can
    be negative), the unigram_rarity flag device with the inequality
    flipped (rarity flags the tail to drop; DSIR selects the head to
    keep).

    Features (r11, verdict next #3): ``ngram=1`` scores unigram tokens
    (the prior default, unchanged); ``ngram=2`` scores adjacent
    bigrams — Xie et al.'s published model uses hashed n-gram
    features precisely so the importance weights see word order — and
    ``buckets`` hashes features into a fixed-size table via the
    cross-engine md5 device (:func:`_dsir_features`). ``n_tokens``
    then counts FEATURES (a doc with fewer than ``ngram`` tokens has
    none and drops from the output, same as an empty doc under
    unigrams).

    Scale shape: two feature-level censuses (corpus and target, each
    one shuffle with map-side partial agg; hashing caps the census at
    ``buckets`` rows regardless of vocabulary), then scoring is one
    shuffle join of exploded corpus features against the corpus census
    LEFT JOINED with the (typically much smaller, AQE-broadcastable)
    target census, and one per-doc aggregation carrying 24-byte rows.
    The corpus-mean flag broadcasts a 1-row aggregate against the
    materialized per-doc table."""
    from candia_spark.operators.materialize import cut

    bits = lambda c: F.length(F.bin(c)).cast("bigint")  # noqa: E731
    feats = _dsir_features(text_col, ngram, buckets)
    toks = df.select(F.col(id_col), F.explode(feats).alias("tok"))
    src = toks.groupBy("tok").agg(
        bits(F.count(F.lit(1))).alias("src_bits")
    )
    tgt = (
        target.select(F.explode(feats).alias("tok"))
        .groupBy("tok")
        .agg(bits(F.count(F.lit(1))).alias("tgt_bits"))
    )
    costs = src.join(tgt, "tok", "left").select(
        "tok",
        (F.coalesce("tgt_bits", F.lit(0)) - F.col("src_bits")).alias(
            "tok_score"
        ),
    )
    scored, _ = cut(
        toks.join(costs, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("tok_score").cast("bigint").alias("score_bits"),
        )
    )
    corpus = scored.agg(
        F.sum("n_tokens").cast("decimal(38,0)").alias("c_toks"),
        F.sum("score_bits").cast("decimal(38,0)").alias("c_bits"),
    )
    return scored.join(F.broadcast(corpus)).select(
        F.col(id_col),
        "n_tokens",
        "score_bits",
        (
            F.col("score_bits").cast("decimal(38,0)") * F.col("c_toks")
            > F.col("c_bits") * F.col("n_tokens").cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("selected"),
    )


def quality_classifier_weights(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    ngram: int = 1,
    buckets: int | None = None,
) -> DataFrame:
    """Train a fastText-style LINEAR quality model from labeled
    corpora — the classifier stage every production pipeline runs
    (GPT-3/LLaMA's "looks like WebText/Wikipedia" logistic filter):
    one census over the positive (high-quality) corpus, one over the
    negative, and each feature's weight is the integer log-odds proxy
    ``bits(count_pos) − bits(count_neg)`` (bits = floor-log2+1 via
    length(bin(x)), the dsir/rarity device; features absent from a side
    price that side 0 bits). Multinomial-NB training instead of SGD, so
    the weights are EXACT integers and the downstream keep/drop gate is
    engine-exactly recomputable — the published pipelines' logistic
    weights differ run-to-run anyway; what they ship is "a broadcast
    linear scorer", which this is.

    Output: (tok, weight) — the broadcast-sized model for
    :func:`quality_classifier_score`. ``ngram``/``buckets`` pick the
    same hashed feature space as the DSIR family
    (:func:`_dsir_features`); with ``buckets`` set the model is at most
    ``buckets`` rows no matter how big the training corpora are.

    Scale shape: two feature censuses (one shuffle each, map-side
    partial agg) + one feature-keyed full outer join of two
    model-sized tables. Nothing corpus-sized survives the censuses."""
    bits = lambda c: F.length(F.bin(c)).cast("bigint")  # noqa: E731
    feats = _dsir_features(text_col, ngram, buckets)
    p = (
        pos.select(F.explode(feats).alias("tok"))
        .groupBy("tok")
        .agg(bits(F.count(F.lit(1))).alias("pos_bits"))
    )
    n = (
        neg.select(F.explode(feats).alias("tok"))
        .groupBy("tok")
        .agg(bits(F.count(F.lit(1))).alias("neg_bits"))
    )
    return p.join(n, "tok", "full").select(
        "tok",
        (
            F.coalesce("pos_bits", F.lit(0)) - F.coalesce("neg_bits", F.lit(0))
        ).alias("weight"),
    )


def quality_classifier_score(
    df: DataFrame,
    weights: DataFrame,
    threshold: tuple[int, int] = (0, 1),
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    buckets: int | None = None,
) -> DataFrame:
    """Score every document with a broadcast linear quality model (the
    :func:`quality_classifier_weights` output, or any (tok, weight)
    integer table) and flag the keepers — the quality-classifier
    pipeline stage itself (verdict r10 next #5). Per document:
    ``score_w = Σ weight(feature)`` over its feature OCCURRENCES
    (term frequency implicit in the sum), unseen features weigh 0, and
    ``keep = 1`` iff the per-feature mean clears ``threshold`` =
    (num, den): ``score_w·den > num·n_tokens``, cross-multiplied in
    decimal(38,0) — division-free, sign-safe (weights can be negative).

    Output one row per INPUT document: (id, n_tokens, score_w, keep);
    featureless docs (empty text, or fewer than ``ngram`` tokens) keep
    zeros and keep=0 — a production gate must emit a verdict for every
    arrival, so nothing is dropped here (unlike dsir_select's
    non-empty-only contract).

    The verdict is a pure function of the row + the broadcast model +
    the frozen threshold, so any split of the input into batches gives
    the same verdicts row-for-row.

    Scale shape: explode features, ONE broadcast-hash join against the
    model (explicitly broadcast — it is bounded by ``buckets`` or the
    training vocabulary), one per-doc aggregation, and a left join back
    to the id spine for the featureless rows. No corpus-sized shuffle
    except the per-doc agg's own key."""
    num, den = threshold
    if den <= 0:
        raise ValueError(f"threshold denominator must be positive, got {den}")
    toks = df.select(
        F.col(id_col),
        F.explode(_dsir_features(text_col, ngram, buckets)).alias("tok"),
    )
    scored = (
        toks.join(F.broadcast(weights), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.coalesce("weight", F.lit(0)))
            .cast("bigint")
            .alias("score_w"),
        )
    )
    nd = F.lit(int(num)).cast("decimal(38,0)")
    dd = F.lit(int(den)).cast("decimal(38,0)")
    return df.select(F.col(id_col)).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("score_w", F.lit(0)).cast("bigint").alias("score_w"),
        (
            F.coalesce("score_w", F.lit(0)).cast("decimal(38,0)") * dd
            > nd * F.coalesce("n_tokens", F.lit(0)).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("keep"),
    )


def strip_boilerplate_lines(
    df: DataFrame,
    max_frac: tuple[int, int] = (1, 2),
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_docs: int = 2,
    sep: str = "\n",
    normalize: bool = False,
) -> DataFrame:
    """Domain-scoped boilerplate LINE removal — the CCNet/RefinedWeb
    cleanup stage between raw extraction and dedup: a line that appears
    in at least ``max_frac`` = (num, den) of its ``group_col``'s
    documents (and in at least ``min_docs`` of them — the small-group
    guard) is site furniture (header, nav, cookie banner, copyright
    footer), not content, and is stripped from every document of that
    group. Lines are compared exactly within their group — or, with
    ``normalize=True``, modulo casing/punctuation/whitespace (the q56
    ``normalize_text`` chain applied to the census KEY only; CCNet
    dedupes normalized lines because furniture mutates its markup
    between pages), while every SURVIVING line keeps its original
    bytes and order.

    Output one row per input document: (id, group, n_lines, n_kept,
    clean_text) — clean_text is the kept lines re-joined with ``sep``
    ('' when every line was boilerplate); NULL text behaves as ''
    (the r11 null-text doctrine), and a NULL ``group_col`` is its own
    group (null-safe join keys, so NULL-source docs census among
    themselves instead of silently losing every line — ADVICE r11). The boilerplate test is
    ``line_docs·den >= num·group_docs`` in bigint (counts are document
    counts, far inside 2^63 even at 100 TB) — division-free, so the
    whole rewrite is engine-exactly recomputable and an md5 of
    clean_text can gate it (q98).

    Scale shape: three keyed shuffles, all linear — the (group, line)
    census with exact countDistinct(doc), the line-keyed join of
    exploded lines against that census (each left row matches exactly
    ONE census row, so a viral boilerplate line skews but never
    expands; AQE splits the skew), and the per-doc ordered rebuild
    (array_sort over collect_list of (pos, line) structs — bounded by
    single-document size). The per-group doc census is group-sized and
    explicitly broadcast. Nothing all-pairs anywhere."""
    import re

    num, den = max_frac
    if den <= 0 or num < 0:
        raise ValueError(f"max_frac must be (num>=0, den>0), got {max_frac}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    pat = re.escape(sep)
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.col(group_col).alias("__grp"),
        F.posexplode(F.split(text, pat)).alias("__pos", "__line"),
    )
    if normalize:
        from candia_spark.functions.text import normalize_text

        # the census KEY is the normalized line; the original line
        # rides along for the rebuild (sep chars can't survive
        # normalization, so a normalized key never spans lines)
        lines = lines.withColumn("__key", normalize_text("__line"))
    else:
        lines = lines.withColumn("__key", F.col("__line"))
    gdocs = (
        df.groupBy(F.col(group_col).alias("__grp"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__grp_docs"))
    )
    census = (
        lines.groupBy("__grp", "__key")
        .agg(F.count_distinct(F.col(id_col)).cast("bigint").alias("__line_docs"))
    )
    boiler = (
        F.col("__line_docs") * F.lit(int(den))
        >= F.lit(int(num)) * F.col("__grp_docs")
    ) & (F.col("__line_docs") >= F.lit(int(min_docs)))
    # NULL-group docs are a group of their own (ADVICE r11: a plain
    # equi-join on a NULL key matched nothing, so their every line
    # dropped and the doc came back EMPTY — the same silent-null class
    # as the r11 null-text fix). groupBy already treats NULL as one
    # group; the joins must agree, so both ride null-safe equality
    # (<=>, still a plain hash-partitionable equi-key for Catalyst).
    census_r = census.withColumnsRenamed({"__grp": "__cgrp", "__key": "__ckey"})
    gdocs_r = gdocs.withColumnsRenamed({"__grp": "__ggrp"})
    kept = (
        lines.join(
            census_r,
            F.col("__grp").eqNullSafe(F.col("__cgrp"))
            & (F.col("__key") == F.col("__ckey")),
        )
        .join(F.broadcast(gdocs_r), F.col("__grp").eqNullSafe(F.col("__ggrp")))
        .filter(~boiler)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    spine = df.select(
        F.col(id_col),
        F.col(group_col).alias("group"),
        F.size(F.split(text, pat)).cast("bigint").alias("n_lines"),
    )
    return spine.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "group",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def quality_budget_fill(
    scored: DataFrame,
    budget_tokens: int,
    score_col: str = "score_w",
    tokens_col: str = "n_tokens",
    shard_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget quality fill — the selection stage that assembles a
    FIXED-SIZE training mix from a scored corpus: within each shard,
    rank documents by quality (``score_col`` desc, ties to the
    smallest id) and keep the ranked PREFIX whose cumulative token
    count stays within ``budget_tokens`` — "take the best documents
    until the budget is spent", the greedy every budgeted-mix recipe
    (quality-filtered CommonCrawl + budget per source) actually runs.
    Prefix semantics exactly: the first document whose tokens would
    overflow the budget is dropped AND nothing after it is considered
    (no knapsack backfill — the output is a rank-prefix, so the kept
    set is trivially reproducible and auditable from the ranking
    alone).

    Input is an already-scored table (e.g.
    :func:`quality_classifier_score`'s output joined back to its
    shard column). Output one row per input doc: (id, shard, n_tokens,
    score, fill_rank, cum_tokens, kept) — all bigint, engine-exactly
    recomputable (the ranking's tie-break is total, the running sum is
    integer).

    Scale shape: ONE shuffle — the window partitioned by ``shard_col``
    (the pack_sequences posture: shards are the parallelism unit, no
    global order ever exists in the plan; skew is bounded by the
    largest single shard). Everything else is a pure map over the
    window output."""
    if budget_tokens <= 0:
        raise ValueError(
            f"budget_tokens must be positive, got {budget_tokens}"
        )
    # prefix semantics REQUIRE a monotone running sum, i.e. nonnegative
    # token counts (a negative count would let kept=1 rows reappear
    # after an overflow — ADVICE r11). tokens_col is caller-supplied,
    # so the precondition is enforced in-plan: the checked expression
    # raises on the first negative row with zero extra passes.
    tok = F.when(
        F.col(tokens_col).cast("bigint") < 0,
        F.raise_error(
            F.format_string(
                "quality_budget_fill: negative %s (doc %s) — token "
                "counts must be >= 0 for the kept set to be a rank "
                "prefix",
                F.lit(tokens_col),
                F.col(id_col).cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(F.col(tokens_col).cast("bigint"))
    w = Window.partitionBy(shard_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    cum = (
        F.sum(tok)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
    )
    return scored.select(
        F.col(id_col),
        F.col(shard_col).alias("shard"),
        tok.alias("n_tokens"),
        F.col(score_col).cast("bigint").alias("score"),
        F.row_number().over(w).cast("bigint").alias("fill_rank"),
        cum.alias("cum_tokens"),
        (cum <= F.lit(int(budget_tokens))).cast("bigint").alias("kept"),
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    mod: int = 10,
    train_lt: int = 8,
) -> DataFrame:
    """Leakage-free train/val splitting with an audit of what naive
    splitting would have done wrong. The classic eval-leakage failure is
    NOT exact duplication (decontamination catches that) but near-dup
    FAMILIES straddling the split: a doc in train and its 0.9-Jaccard
    sibling in val inflates every held-out metric. The fix every serious
    pipeline applies is cluster-aware assignment — hash the CLUSTER
    representative, not the member, so a whole near-dup family lands on
    one side.

    Input: the corpus plus any near-dup pair graph (ngram_jaccard_pairs
    / minhash_lsh_pairs / cosine_dup_pairs output). Members are labeled
    with their connected-component min-id representative (singletons
    represent themselves); the cluster split is ``rep % mod < train_lt``
    (deterministic, engine-exact integer arithmetic — the decile device
    of q74), the naive split is the same predicate on the member id.

    Output: one row per split — (split, n_docs, n_clusters, n_moved,
    n_leaky_clusters) where n_moved counts members whose naive
    assignment differs from their cluster's (the correction applied) and
    n_leaky_clusters counts clusters naive splitting would have
    straddled (the leaks prevented). All counters bigint-exact.

    Scale shape: the component collapse is star contraction over the
    pair graph (bounded by verified-pair mass, not the corpus); the
    member labeling is one join of bare ids against the component table
    (8-byte corpus rows, AQE broadcasts the component side when small);
    the audit is two keyed aggregations, the second over the
    cluster-sized table with a 2-value key."""
    if mod <= 0 or not (0 < train_lt < mod):
        # train_lt of 0 or mod yields exactly the all-val/all-train
        # "non-split" this guard exists to refuse (advice r9 #1) — both
        # sides must be able to receive mass
        raise ValueError(
            f"need mod > 0 and 0 < train_lt < mod, got {train_lt}/{mod}"
        )
    from candia_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    members = (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(F.col(id_col), F.coalesce("rep", F.col(id_col)).alias("rep"))
    )
    naive_train = (F.col(id_col) % mod < train_lt).cast("bigint")
    cl = members.groupBy("rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(naive_train).cast("bigint").alias("n_naive_train"),
    )
    cluster_train = F.col("rep") % mod < train_lt
    return (
        cl.groupBy(
            F.when(cluster_train, F.lit("train"))
            .otherwise(F.lit("val"))
            .alias("split")
        )
        .agg(
            F.sum("n_members").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum(
                F.when(
                    cluster_train, F.col("n_members") - F.col("n_naive_train")
                ).otherwise(F.col("n_naive_train"))
            )
            .cast("bigint")
            .alias("n_moved"),
            F.sum(
                (
                    (F.col("n_naive_train") > 0)
                    & (F.col("n_naive_train") < F.col("n_members"))
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("n_leaky_clusters"),
        )
    )


def bigram_assoc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_unigrams: bool = True,
) -> DataFrame:
    """Bigram-coherence scoring — the word-salad detector that
    complements ``unigram_rarity``: a document of individually common
    but never-adjacent words sails through a unigram LM filter and is
    exactly what this catches (shuffled/templated junk, keyword-stuffed
    spam). Per adjacent token pair (a, b) the integer association score
    is ``2·bits(c_ab) − bits(c_a) − bits(c_b)`` with bits(x) =
    length(bin(x)) — the engine-exact floor-log2 proxy for pointwise
    mutual information, always <= 0 (c_ab <= min(c_a, c_b)), and equal
    to 0 only when the pair is as frequent as both its words.

    Output per document with >= 1 pair: (id, n_pairs, total_assoc,
    incoherent) where incoherent = 1 iff the doc's mean association is
    below the corpus mean — cross-multiplied in decimal(38,0)
    (``total_assoc·Σn_pairs < Σtotal_assoc·n_pairs``; both multipliers
    positive, so the inequality is division-free and sign-safe for the
    negative scores).

    Scale shape: with ``broadcast_unigrams`` (default) the unigram
    census collapses to one broadcast map row (vocabulary-sized, the
    q84/bm25 device) so word costs are a pure map — fine to ~1e6 types;
    for an open-vocabulary 100 TB corpus pass
    ``broadcast_unigrams=False`` (advice r9 #2, mirroring
    unigram_rarity's ``broadcast_vocab``) and word costs come from two
    shuffle joins of the pair table against the unigram census (on a,
    then on b) — linear, AQE free to broadcast a small census. Either
    way the ONLY unavoidable corpus-scale shuffle in scoring is the
    pair-census join on (a, b) — bigram vocabulary is unbounded by
    Heaps' law, so it shuffle-joins rather than broadcasts, with
    map-side partial aggregation on the census side and AQE free to
    broadcast it when a real corpus's bigram table turns out small. The
    per-doc aggregation then carries 32-byte rows. No UDF anywhere;
    bin/length/element_at are all codegen expressions."""
    from candia_spark.operators.materialize import cut

    bits = lambda c: F.length(F.bin(c)).cast("bigint")  # noqa: E731
    toks = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    m = F.greatest(F.size("__t") - 1, F.lit(0))
    pr = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("__t", F.lit(1), m),
                F.slice("__t", F.lit(2), m),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    ).select(F.col(id_col), F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    uni = (
        toks.select(F.explode("__t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    big = pr.groupBy("a", "b").agg(
        bits(F.count(F.lit(1))).alias("bits_ab")
    )
    if broadcast_unigrams:
        freq_row = uni.agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col("tok"), bits(F.col("cnt")).alias("bits"))
                )
            ).alias("freq")
        )
        costed = pr.join(big, ["a", "b"]).join(F.broadcast(freq_row))
        assoc = (
            F.lit(2) * F.col("bits_ab")
            - F.element_at("freq", F.col("a"))
            - F.element_at("freq", F.col("b"))
        )
    else:
        # open-vocab path: no single-row map agg anywhere — the word
        # costs ride two keyed joins against the unigram census
        ub = uni.select("tok", bits(F.col("cnt")).alias("bits"))
        costed = (
            pr.join(big, ["a", "b"])
            .join(
                ub.select(
                    F.col("tok").alias("a"), F.col("bits").alias("bits_a")
                ),
                "a",
            )
            .join(
                ub.select(
                    F.col("tok").alias("b"), F.col("bits").alias("bits_b")
                ),
                "b",
            )
        )
        assoc = (
            F.lit(2) * F.col("bits_ab") - F.col("bits_a") - F.col("bits_b")
        )
    scored = costed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(assoc).cast("bigint").alias("total_assoc"),
    )
    scored, _ = cut(scored)
    corpus = scored.agg(
        F.sum("n_pairs").cast("decimal(38,0)").alias("c_pairs"),
        F.sum("total_assoc").cast("decimal(38,0)").alias("c_assoc"),
    )
    return scored.join(F.broadcast(corpus)).select(
        F.col(id_col),
        "n_pairs",
        "total_assoc",
        (
            F.col("total_assoc").cast("decimal(38,0)") * F.col("c_pairs")
            < F.col("c_assoc") * F.col("n_pairs").cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("incoherent"),
    )


def unigram_rarity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Reference-frequency quality scoring (the CCNet device: score every
    document under a language model of the corpus and split on the
    score), made integer-exact: each token costs
    ``length(bin(count(token)))`` bits — floor(log2 count)+1, the
    engine-exact stand-in for log-frequency (monotone in count, computed
    identically by Spark's ``bin`` and an ANSI engine's, no libm).

    Output per non-empty document: (id, n_tokens, total_bits, tail) with
    tail = 1 iff the document's mean bits-per-token is below the corpus
    mean — i.e. its vocabulary is systematically rarer than the corpus'
    (the high-perplexity tail CCNet buckets for removal or down-
    sampling). The comparison is cross-multiplied in decimal(38,0)
    (``total_bits·Σn_tokens < Σtotal_bits·n_tokens``), so no division
    ever happens and the flag is hash-exact.

    Scale: the vocabulary census is one token-level group-by (map-side
    partial agg). With ``broadcast_vocab`` (default) scoring is then a
    PURE MAP — the census collapses to a single map-typed row,
    broadcast, and each document folds its token array through
    ``aggregate(..)``: zero scoring shuffles, the bm25/top_tfidf device.
    That bounds the broadcast by vocabulary size (fine to ~1e6 types);
    for an open-vocab 100 TB corpus pass ``broadcast_vocab=False`` for
    the explode + shuffle-join path (linear, AQE picks the strategy).
    The corpus-mean comparison broadcasts a 1-row aggregate against the
    materialized per-doc table (one corpus pass, localCheckpoint-shared
    by both consumers)."""
    from candia_spark.operators.materialize import cut

    bits = F.length(F.bin(F.col("cnt"))).cast("bigint")
    if broadcast_vocab:
        toks = df.select(F.col(id_col), tokens(text_col).alias("toks"))
        vocab = (
            toks.select(F.explode("toks").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        freq_row = vocab.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("tok"), bits.alias("bits")))
            ).alias("freq")
        )
        scored = (
            toks.join(F.broadcast(freq_row))
            .select(
                F.col(id_col),
                F.size("toks").cast("bigint").alias("n_tokens"),
                F.aggregate(
                    "toks",
                    F.lit(0).cast("bigint"),
                    lambda acc, t: acc + F.element_at("freq", t),
                ).alias("total_bits"),
            )
            .filter(F.col("n_tokens") > 0)
        )
    else:
        toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        vocab = toks.groupBy("tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
        scored = (
            toks.join(vocab.select("tok", bits.alias("bits")), "tok")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                F.sum("bits").cast("bigint").alias("total_bits"),
            )
        )
    scored, _ = cut(scored)
    corpus = scored.agg(
        F.sum("n_tokens").cast("decimal(38,0)").alias("c_toks"),
        F.sum("total_bits").cast("decimal(38,0)").alias("c_bits"),
    )
    return scored.join(F.broadcast(corpus)).select(
        F.col(id_col),
        "n_tokens",
        "total_bits",
        (
            F.col("total_bits").cast("decimal(38,0)") * F.col("c_toks")
            < F.col("c_bits") * F.col("n_tokens").cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("tail"),
    )


def multiclass_classifier_weights(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    ngram: int = 1,
    buckets: int | None = None,
    min_contrast: int = 0,
) -> DataFrame:
    """Train a fastText-style MULTI-CLASS linear model from a labeled
    corpus (verdict r11 next #3 — the K-class generalization of
    :func:`quality_classifier_weights`): one census over
    (label, feature) pairs, a per-class RATE normalization (multinomial
    NB's log P(tok|c) = log count(tok,c) − log total_c — without it,
    the largest class out-counts every other on shared vocabulary and
    wins every argmax, measured on the lang-imbalanced documents
    table), and a one-vs-rest contrast:

        ``nb(tok, c)     = bits(count(tok, c)) − bits(total_c)``
        ``weight(tok, c) = K·nb(tok, c) − Σ_c' nb(tok, c')``

    (bits = floor-log2+1 via length(bin(x)), the dsir integer-log
    device; a class that never saw the token prices bits(count) = 0,
    i.e. nb = −bits(total_c); weights are zero-sum across classes per
    token, so a token occurring at the same RATE everywhere is evidence
    for nothing). Exact integers end to end — the fastText softmax this
    stands in for differs run-to-run anyway; what ships is "a broadcast
    linear scorer per class", which this is.

    The model is DENSE over (model vocabulary × labels): the absent
    (tok, c) rows carry exactly the strongest negative evidence
    (−bits(total_c)), so the dense cross join is load-bearing, not
    padding. With ``buckets`` set (the q96/q97 hashed feature space,
    cross-engine md5 device) the model is at most ``buckets × K`` rows
    no matter the vocabulary.

    The integer-log proxy quantizes rates to whole bits, so a token
    whose class rates differ by less than 2× carries ±1-bit noise, and
    summed over a long document that noise can drown sharp evidence —
    ``min_contrast`` is the feature-pruning knob every shipped langid
    runs: tokens whose cross-class nb RANGE (max − min) is below it are
    dropped from the model entirely (contributing an equal 0 to every
    class). Sharply class-conditional features — 'der' in German, a
    domain's boilerplate — have contrast >> 1 and always survive; the
    sub-bit diffuse differences below the proxy's resolution are
    exactly what it removes. This trades sub-2× rate sensitivity for
    engine-exactness and a smaller broadcast model.

    Output: (label, tok, weight) for
    :func:`multiclass_classifier_predict` — ``ngram``/``buckets`` must
    match between the two calls.

    Scale shape: one corpus feature census (one shuffle, map-side
    partial agg), then everything downstream is model-sized — the
    per-token totals, the K-row label set (broadcast), the 1-row K
    count (broadcast; no driver action anywhere), and the dense
    left join. Nothing corpus-sized survives the census."""
    bits = lambda c: F.length(F.bin(c)).cast("bigint")  # noqa: E731
    feats = _dsir_features(text_col, ngram, buckets)
    # a NULL label would train a NULL class whose argmax tie-break
    # diverges cross-engine (Spark struct-min orders NULLs smallest,
    # DuckDB ORDER BY puts them last — the r11 q89 gotcha), so it fails
    # loudly in-plan instead of silently poisoning the model
    label = F.when(
        F.col(label_col).isNull(),
        F.raise_error(
            "multiclass_classifier_weights: NULL label in the training "
            "corpus — filter or impute labels before training"
        ),
    ).otherwise(F.col(label_col))
    cen = (
        labeled.select(label.alias("label"), F.explode(feats).alias("tok"))
        .groupBy("label", "tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__cnt"),
            bits(F.count(F.lit(1))).alias("__bits"),
        )
    )
    from candia_spark.operators.materialize import cut

    cen, _ = cut(cen)  # feeds toks/labels/totals/dense join
    toks_d = cen.select("tok").distinct()
    # per-class token totals and their bits (the NB rate normalizer);
    # S = Σ_c bits(total_c) rides the same model-sized table
    ltot = cen.groupBy("label").agg(bits(F.sum("__cnt")).alias("__ltot"))
    sdf = ltot.agg(
        F.sum("__ltot").alias("__s"),
        F.count(F.lit(1)).cast("bigint").alias("__k"),
    )
    # Σ_c' bits(count(tok, c')) over PRESENT classes; absent classes
    # contribute bits = 0 by the coalesce below
    tok_bits = cen.groupBy("tok").agg(F.sum("__bits").alias("__tb"))
    # weight = K·(bits − ltot) − (tok_bits_sum − S), zero-sum per token
    dense = (
        toks_d.join(F.broadcast(ltot))
        .join(F.broadcast(sdf))
        .join(tok_bits, "tok")
        .join(cen.select("label", "tok", "__bits"), ["label", "tok"], "left")
        .select(
            "label",
            "tok",
            (F.coalesce("__bits", F.lit(0)) - F.col("__ltot")).alias("__nb"),
            (
                F.col("__k")
                * (F.coalesce("__bits", F.lit(0)) - F.col("__ltot"))
                - (F.col("__tb") - F.col("__s"))
            ).alias("weight"),
        )
    )
    if min_contrast > 0:
        w = Window.partitionBy("tok")
        dense = dense.withColumn(
            "__rng", F.max("__nb").over(w) - F.min("__nb").over(w)
        ).filter(F.col("__rng") >= F.lit(int(min_contrast)))
    return dense.select("label", "tok", "weight")


def multiclass_classifier_predict(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    buckets: int | None = None,
    fallback: str = "und",
) -> DataFrame:
    """Score every document against a broadcast multi-class linear
    model (:func:`multiclass_classifier_weights` output) and predict
    the argmax class — the fastText-style language-ID/topic gate
    production pipelines run (the marker-list heuristic
    ``functions.text.lang_id_from_distinct`` certifies as q32's frozen
    fixture; THIS is the trained replacement, verdict r11 next #3).

    Per document and class: ``score(d, c) = Σ weight(tok, c)`` over
    feature OCCURRENCES; predicted = argmax with the exact total
    tie-break (score desc, label asc — the cluster_purity struct-min
    device, engine-identical). Tokens outside the model vocabulary add
    an equal 0 to every class and cannot move an argmax; documents with
    NO model features (empty text, or nothing survived hashing) get
    ``fallback`` with score 0 — every input row gets a verdict (the
    q97 production-gate stance).

    Output one row per input document: (id, predicted_label,
    best_score). ``ngram``/``buckets`` must match training.

    Scale shape: explode features, ONE explicitly-broadcast join
    against the model (bounded by buckets × K), one (id, label)
    aggregation, one per-id struct-min argmax, and a left join back to
    the id spine. No corpus-sized shuffle except the per-doc agg's own
    key."""
    feats = _dsir_features(text_col, ngram, buckets)
    toks = df.select(F.col(id_col), F.explode(feats).alias("tok"))
    scores = (
        toks.join(F.broadcast(weights), "tok")
        .groupBy(id_col, "label")
        .agg(F.sum("weight").cast("bigint").alias("__score"))
    )
    best = scores.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("__score")).alias("__ns"), F.col("label").alias("__l")
            )
        ).alias("__b")
    )
    return df.select(F.col(id_col)).join(best, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__b")["__l"], F.lit(fallback)).alias(
            "predicted_label"
        ),
        F.coalesce(-F.col("__b")["__ns"], F.lit(0))
        .cast("bigint")
        .alias("best_score"),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """URL-level dedup — the RefinedWeb/FineWeb pipeline's FIRST dedup
    stage (cheaper than any content pass: two crawls of the same page
    share a canonical URL long before they share normalized text): one
    digest-keyed window over :func:`candia_spark.functions.text.canonical_url`
    elects the smallest-id keeper per canonical URL, exactly the
    :func:`normalized_exact_dups` contract on the URL column.

    Output one row per input document: (id, canonical_url, domain,
    group_size, keeper_id, keep). Scale shape: a pure-map regexp chain
    + ONE canonical-URL-keyed shuffle; nothing else."""
    from candia_spark.functions.text import (
        canonical_url,
        url_registered_domain,
    )

    # a NULL url canonicalizes to NULL, and a window PARTITION BY pools
    # NULLs — which would collapse every unknown-URL doc into one fake
    # dup group. The SAME no-evidence class hides behind the empty
    # string: a fragment-only or tracking-only value ('#x',
    # '?utm_source=x' with no scheme) canonicalizes to '', and keying
    # on '' would pool all of those too, dropping all but one doc. So
    # each NULL-or-empty-canonical doc keys its own singleton group
    # (an id-salted sentinel that can never collide with a real URL),
    # mirroring the null-text doctrine.
    canon = canonical_url(url_col)
    c = df.select(
        F.col(id_col),
        F.when(
            canon.isNull() | (canon == ""),
            F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
        ).otherwise(canon).alias("__key"),
        canonical_url(url_col).alias("canonical_url"),
        url_registered_domain(url_col).alias("domain"),
    )
    w = Window.partitionBy("__key")
    return c.select(
        F.col(id_col),
        "canonical_url",
        "domain",
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
        F.min(id_col).over(w).cast("bigint").alias("keeper_id"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: int = 3,
    max_mwl: int = 10,
    max_symbol_per10: int = 1,
    max_bullet_per10: int = 9,
    max_ellipsis_per10: int = 3,
    min_alpha_per5: int = 4,
    min_stop_hits: int = 2,
    stopwords: tuple = ("the", "be", "to", "of", "and", "that", "have", "with"),
) -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2021, Table A1 — the
    repetition half lives in :func:`candia_spark.functions.text`'s q44
    metrics; this is the document-shape half every web pipeline runs
    before model-based filtering): word-count bounds, mean-word-length
    bounds, symbol-to-word ratio ('#' and '...'), bullet-started and
    ellipsis-ended line fractions, alphabetic-word fraction, and a
    distinct-stopword floor. Defaults ARE the paper's Table A1 values:
    50..100k words, mean word length 3..10, and >= 2 hits in the
    8-stopword set (the/be/to/of/and/that/have/with); loosen them per
    corpus by parameter, not by editing constants.

    Every rule is INTEGER-exact and division-free (per-10/per-5
    cross-multiplied thresholds: e.g. the paper's "<= 90% bullet lines"
    is ``10·bullet_lines <= 9·n_lines``), so the whole verdict vector
    is engine-exactly recomputable and gated (q105). Output one row per
    document: (id, n_words, n_lines, one 0/1 flag per rule, keep =
    every flag). Scale shape: a PURE MAP over the scan — per-row array
    HOFs, zero exchanges (the q44 stance)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.lower(t), " "), lambda x: x != "")
    lines = F.split(t, "\n")
    n_words = F.size(toks).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    sum_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_symbols = (n_hash + n_ell).cast("bigint")
    bullets = F.size(
        F.filter(
            lines,
            lambda l: F.substring(l, 1, 1).isin("-", "*", "•"),
        )
    ).cast("bigint")
    ell_lines = F.size(
        F.filter(
            lines,
            lambda l: (F.length(l) >= 3)
            & (F.substring(l, -3, 3) == "..."),
        )
    ).cast("bigint")
    alpha_words = F.size(
        F.filter(toks, lambda x: x.rlike("[a-z]"))
    ).cast("bigint")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in stopwords]),
        )
    ).cast("bigint")
    flags = {
        "r_words": (n_words >= min_words) & (n_words <= max_words),
        "r_mwl": (sum_chars >= F.lit(int(min_mwl)) * n_words)
        & (sum_chars <= F.lit(int(max_mwl)) * n_words),
        "r_symbol": n_symbols * 10 <= F.lit(int(max_symbol_per10)) * n_words,
        "r_bullet": bullets * 10 <= F.lit(int(max_bullet_per10)) * n_lines,
        "r_ellipsis": ell_lines * 10
        <= F.lit(int(max_ellipsis_per10)) * n_lines,
        "r_alpha": alpha_words * 5 >= F.lit(int(min_alpha_per5)) * n_words,
        "r_stop": stop_hits >= F.lit(int(min_stop_hits)),
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        *[v.cast("bigint").alias(k) for k, v in flags.items()],
        keep.cast("bigint").alias("keep"),
    )


def curriculum_order(
    df: DataFrame,
    score,
    n_stages: int = 4,
    n_shards: int = 4,
    id_col: str = "doc_id",
    buckets: int = 1000,
    salt: str = "",
    hard_first: bool = False,
) -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009's curriculum
    learning applied to corpus assembly): every document gets a
    training STAGE by exact score percentile — easy material first by
    default (``hard_first`` flips it, the anti-curriculum ablation) —
    and a deterministic (shard, pos) WITHIN its stage via the md5
    permutation device, so the trainer consumes stage 0's shards, then
    stage 1's, with a reproducible order inside each. A pure function
    of (score census, id, salt): retries, repartitions, and resizes
    reproduce the identical curriculum; ``salt`` re-draws the
    within-stage order per epoch without touching the stages.

    Stage = floor(pct * n_stages) over :func:`score_percentiles`'
    exact census percentile (floor of identical IEEE doubles — the
    q61-certified device), so stage boundaries are engine-exact
    population quantiles, not score thresholds. Within (stage, shard),
    pos ranks md5(salt:id) with id ties — q113's certified
    permutation.

    Output: (id, stage, shard, pos) — all bigint.

    Scale: the percentile is a bucket-census cumulative (never a
    corpus-wide percent_rank); the order windows partition by
    (stage, shard) — n_stages * n_shards units, each corpus-fraction
    sized; size n_shards to the trainer's file layout exactly as in
    :func:`candia_spark.operators.sampling.deterministic_shuffle`."""
    if n_stages <= 0 or n_shards <= 0:
        raise ValueError(
            f"n_stages and n_shards must be positive, got "
            f"{n_stages}/{n_shards}"
        )
    pct = score_percentiles(df, score, id_col=id_col, buckets=buckets)
    stage = F.floor(F.col("pct") * n_stages).cast("bigint")
    if hard_first:
        stage = F.lit(n_stages - 1) - stage
    key = F.md5(
        F.concat(
            F.lit(salt), F.lit(":"), F.col(id_col).cast("string")
        ).cast("binary")
    )
    shard = (
        F.conv(F.substring(key, 1, 15), 16, 10).cast("bigint")
        % F.lit(int(n_shards))
    ).cast("bigint")
    keyed = pct.select(
        F.col(id_col), stage.alias("stage"), shard.alias("shard"),
        key.alias("__key"),
    )
    w = Window.partitionBy("stage", "shard").orderBy(
        F.col("__key").asc(), F.col(id_col).asc()
    )
    return keyed.select(
        F.col(id_col),
        "stage",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )


def load_psl(
    spark,
    path: str | None = None,
    lines: list[str] | None = None,
    hosts: DataFrame | None = None,
    host_col: str = "host",
) -> DataFrame:
    """Parse the real ``public_suffix_list.dat`` (publicsuffix.org —
    public data) into the PRE-EXPANDED plain-suffix table
    :func:`registered_domain_psl` demands: one ``suffix`` column plus
    the ``section`` it came from ('icann' or 'private' — the private
    section holds the 5+-label suffixes like
    s3.dualstack.<region>.amazonaws.com that set the probe depth).

    Format handling (the published PSL spec): ``//`` comment lines and
    blanks are skipped; a rule is the first whitespace-delimited token
    of its line, lowercased; ``===BEGIN ICANN/PRIVATE DOMAINS===``
    markers switch the section tag.

    Wildcard rules (``*.ck``: every single label under ck is a public
    suffix) denote an OPEN set — they cannot be enumerated without
    knowing which labels exist, so expansion is grounded on the
    corpus's own hosts: pass ``hosts`` (any DataFrame with a
    ``host_col``; typically ``url_host`` over the corpus, distinct —
    census-sized, not corpus-sized) and each observed ``<label>.ck``
    becomes a concrete suffix row (section of its wildcard rule). The
    wildcard's base (``ck``) is also emitted: a bare-base host has no
    registered domain, and hosts directly under an EXCEPTION
    (``!www.ck``: www.ck is registrable despite the wildcard) then
    longest-match the base, making www.ck their registered domain —
    exactly the PSL algorithm's answer. Exception rules remove their
    suffix from the expansion (and from plain rows, defensively). A
    file with wildcard rules and no ``hosts`` raises loudly rather
    than silently mis-domaining everything under them.

    The file is parsed DRIVER-side (the PSL is a ~250 KB config
    artifact, same stance as the YAML experiment config); only the
    wildcard-grounding join is distributed: distinct hosts against a
    broadcast base table — no corpus-sized shuffle.

    Output: (suffix, section), distinct."""
    if (path is None) == (lines is None):
        raise ValueError("load_psl: pass exactly one of path / lines")
    if lines is None:
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
    section = "icann"
    plain: dict[str, str] = {}
    wildcards: dict[str, str] = {}
    exceptions: set[str] = set()
    for raw in lines:
        line = raw.strip()
        if not line:
            continue
        if line.startswith("//"):
            if "===BEGIN ICANN DOMAINS===" in line:
                section = "icann"
            elif "===BEGIN PRIVATE DOMAINS===" in line:
                section = "private"
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            exceptions.add(rule[1:])
        elif rule.startswith("*."):
            base = rule[2:]
            if "*" in base:
                raise ValueError(
                    f"load_psl: unsupported nested wildcard rule {rule!r}"
                )
            wildcards.setdefault(base, section)
        else:
            plain.setdefault(rule, section)
    rows = [
        (s, sec) for s, sec in plain.items() if s not in exceptions
    ]
    # the wildcard base itself is a public suffix (no rule matches the
    # bare base except the implicit '*', and emitting it is what routes
    # exception-covered hosts to the right one-label-more domain)
    rows.extend(
        (b, sec) for b, sec in wildcards.items()
        if b not in plain and b not in exceptions
    )
    out = spark.createDataFrame(rows, "suffix string, section string")
    if wildcards:
        if hosts is None:
            raise ValueError(
                f"load_psl: {len(wildcards)} wildcard rules "
                f"({sorted(wildcards)[:3]}...) need the observed-host "
                "census to ground their expansion — pass hosts="
            )
        bases = spark.createDataFrame(
            list(wildcards.items()), "base string, section string"
        )
        h = hosts.select(
            F.lower(F.col(host_col)).alias("__h")
        ).where(F.col("__h").isNotNull()).distinct()
        under = h.join(
            F.broadcast(bases),
            F.col("__h").endswith(F.concat(F.lit("."), F.col("base"))),
        )
        # the label DIRECTLY under the base: last label of the host
        # with '.<base>' removed
        stem = F.expr(
            "substring(__h, 1, length(__h) - length(base) - 1)"
        )
        label = F.element_at(F.split(stem, r"\."), -1)
        expanded = under.select(
            F.concat(label, F.lit("."), F.col("base")).alias("suffix"),
            "section",
        )
        if exceptions:
            expanded = expanded.where(
                ~F.col("suffix").isin(sorted(exceptions))
            )
        out = out.unionByName(expanded.distinct()).distinct()
    return out


def registered_domain_psl(
    df: DataFrame,
    psl: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Registered-domain (eTLD+1) extraction against a caller-supplied
    public-suffix table — the production upgrade of
    :func:`candia_spark.functions.text.url_registered_domain`'s naive
    two-label rule (which calls 'b.co.uk' a domain of 'co.uk' sites):
    ``psl`` is one ``suffix`` string column (e.g. 'com', 'co.uk',
    'com.au' — load the real PSL file at deployment; tests pin the
    semantics on a subset). The registered domain is one label more
    than the LONGEST matching public suffix of the host.

    The table must be PRE-EXPANDED to plain suffixes: PSL wildcard
    ('*.ck') and exception ('!www.ck') rules must be resolved by the
    loader into the concrete suffixes they denote — rows containing
    '*' or '!' are rejected loudly here, because silently treating
    them as literal labels would mis-domain every host under them.

    Semantics: hosts with no matching suffix (IPs, 'localhost',
    intranet names) and hosts that ARE a bare public suffix yield NULL
    — they have no registered domain, and pretending otherwise is how
    per-domain caps end up keying on 'co.uk'.

    Scale shape: each host contributes its last 1..max_k
    label-suffixes as join probes, where max_k is the deepest suffix
    in the LOADED table (computed by one scalar agg over the ~10k-row
    PSL, not hard-coded — the real PSL's private section holds
    5+-label suffixes like s3.dualstack.<region>.amazonaws.com, and a
    fixed probe depth would silently longest-match a shorter suffix
    and return a too-broad domain). Then ONE explicitly-broadcast join
    against the suffix table and a per-doc max-length argmax — no
    corpus-sized shuffle except the per-doc agg.

    Output: (id, host, registered_domain)."""
    from candia_spark.functions.text import url_host

    # one scalar agg over the (broadcast-sized) suffix table: the probe
    # depth is the deepest loaded suffix, and unresolved wildcard /
    # exception rules are rejected before they can mis-match anything
    max_k, n_bad = psl.agg(
        F.max(F.size(F.split(F.col("suffix"), r"\."))),
        F.sum(
            (
                F.col("suffix").contains("*") | F.col("suffix").contains("!")
            ).cast("bigint")
        ),
    ).first()
    if n_bad:
        raise ValueError(
            f"registered_domain_psl: {n_bad} PSL rows contain '*' or '!' — "
            "wildcard/exception rules must be pre-expanded to plain "
            "suffixes by the loader"
        )
    if max_k is None:
        raise ValueError("registered_domain_psl: empty public-suffix table")

    # labels projected into a BOUND column (r16 optimization round,
    # guide §1.2): inlined, the split would sit inside the per-k suffix
    # lambda below and re-split the host for every candidate depth
    hosts = df.select(
        F.col(id_col), url_host(url_col).alias("host")
    ).withColumn("__labels", F.split(F.col("host"), r"\."))
    labels = F.col("__labels")
    n = F.size(labels)
    # candidate suffixes: the last k labels, k = 1..min(max_k, n) — the
    # WHOLE host included, because the longest-match rule must see that
    # 'co.uk' itself is a public suffix before the shorter 'uk' match
    # could wrongly promote 'co' to a domain label; a host whose
    # longest PSL match consumes every label has no registered domain
    cands = hosts.select(
        F.col(id_col),
        "host",
        n.alias("__n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.least(n, F.lit(int(max_k)))),
                lambda k: F.struct(
                    k.alias("k"),
                    F.array_join(
                        F.slice(labels, n - k + 1, k), "."
                    ).alias("suffix"),
                ),
            )
        ).alias("__c"),
    ).select(
        F.col(id_col), "host", "__n",
        F.col("__c")["k"].alias("__k"), F.col("__c")["suffix"].alias("suffix"),
    )
    matched = cands.join(F.broadcast(psl.select("suffix")), "suffix")
    best = matched.groupBy(id_col).agg(F.max("__k").alias("__bk"))
    dom = (
        matched.join(best, id_col)
        .filter((F.col("__k") == F.col("__bk")) & (F.col("__k") < F.col("__n")))
        .select(
            F.col(id_col),
            F.concat(
                F.element_at(
                    F.split(F.col("host"), r"\."),
                    (F.col("__n") - F.col("__k")).cast("int"),
                ),
                F.lit("."),
                F.col("suffix"),
            ).alias("registered_domain"),
        )
    )
    return hosts.join(dom, id_col, "left").select(
        F.col(id_col), "host", "registered_domain"
    )


def perplexity_buckets(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = None,
    engine: str = "rank",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """CCNet's head/middle/tail quality split (Wenzek et al. 2020):
    score every document under a language model trained on a REFERENCE
    corpus (CCNet: Wikipedia), then cut each language's documents into
    three equal buckets by score — 'head' (most reference-like, lowest
    perplexity) is kept, 'middle' sampled, 'tail' dropped. This is the
    reference-model sibling of :func:`unigram_rarity` (q84), which
    scores against the corpus' OWN census and can only flag a global
    tail; the production filter needs an external reference and the
    per-language tertile cut.

    Integer-exact scoring: a token costs ``length(bin(ref_count))``
    bits — the engine-exact log2-frequency proxy (the q84 device) —
    and out-of-reference tokens cost 0 (never seen = no commonality
    evidence), so ``total_bits`` is a bigint and the only float is the
    final mean ``total_bits / n_tokens``, an IEEE division of
    identical integers that every engine computes bit-identically.
    Documents with no tokens carry no evidence and are dropped (the
    dsir contract). Higher mean bits = more reference-like = head.

    ``engine='rank'`` (default, the certified path): within each
    language, ROW_NUMBER over (score desc, id asc) and bucket =
    ``(rank-1)*3 DIV lang_count`` — the exact tertile cut, gate-exact
    but one sort per language partition (a language is one window
    partition; fine to ~10^8 docs/language, and exactly how the cut is
    DEFINED). ``engine='approx'``: per-language percentile_approx
    thresholds (a map-side-combinable agg), broadcast, bucket as a
    PURE MAP — linear and partition-parallel at any scale, boundary
    rows may differ from the exact cut (deploy path, not gate path).

    Output one row per scored document: (id, lang, n_tokens,
    total_bits, bucket)."""
    from candia_spark.operators.materialize import cut

    if engine not in ("rank", "approx"):
        raise ValueError(f"unknown engine {engine!r}")
    bits = F.length(F.bin(F.col("cnt"))).cast("bigint")
    vocab = (
        reference.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    lang = (
        F.col(lang_col) if lang_col is not None else F.lit("all")
    ).alias("lang")
    if broadcast_vocab:
        toks = df.select(F.col(id_col), lang, tokens(text_col).alias("toks"))
        freq_row = vocab.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("tok"), bits.alias("bits")))
            ).alias("__freq")
        )
        scored = (
            toks.join(F.broadcast(freq_row))
            .select(
                F.col(id_col),
                "lang",
                F.size("toks").cast("bigint").alias("n_tokens"),
                F.aggregate(
                    "toks",
                    F.lit(0).cast("bigint"),
                    lambda acc, t: acc
                    + F.coalesce(
                        F.try_element_at("__freq", t), F.lit(0).cast("bigint")
                    ),
                ).alias("total_bits"),
            )
            .filter(F.col("n_tokens") > 0)
        )
    else:
        toks = df.select(
            F.col(id_col), lang, F.explode(tokens(text_col)).alias("tok")
        )
        scored = (
            toks.join(vocab.select("tok", bits.alias("__bits")), "tok", "left")
            .groupBy(id_col, "lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                F.sum(F.coalesce("__bits", F.lit(0)))
                .cast("bigint")
                .alias("total_bits"),
            )
        )
    score = (F.col("total_bits").cast("double") / F.col("n_tokens")).alias(
        "__score"
    )

    def label(ix):
        return (
            F.when(ix == 0, F.lit("head"))
            .when(ix == 1, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    if engine == "rank":
        w = Window.partitionBy("lang").orderBy(
            F.col("__score").desc(), F.col(id_col).asc()
        )
        wc = Window.partitionBy("lang")
        s = scored.select(F.col(id_col), "lang", "n_tokens", "total_bits", score)
        ranked = s.select(
            F.col(id_col),
            "lang",
            "n_tokens",
            "total_bits",
            ((F.row_number().over(w) - 1) * 3).alias("__r3"),
            F.count(F.lit(1)).over(wc).alias("__n"),
        )
        # INTEGER division — a double `/` then cast would hit the r12
        # truncate-vs-round divergence class and ~1-ulp boundary risk
        ix = F.expr("__r3 div __n")
        return ranked.select(
            F.col(id_col), "lang", "n_tokens", "total_bits",
            label(ix).alias("bucket"),
        )
    # approx: per-language thresholds, then a pure-map bucket
    s, _ = cut(
        scored.select(F.col(id_col), "lang", "n_tokens", "total_bits", score)
    )
    cuts = s.groupBy("lang").agg(
        F.percentile_approx("__score", 2.0 / 3.0).alias("__t_head"),
        F.percentile_approx("__score", 1.0 / 3.0).alias("__t_mid"),
    )
    return s.join(F.broadcast(cuts), "lang").select(
        F.col(id_col),
        "lang",
        "n_tokens",
        "total_bits",
        F.when(F.col("__score") >= F.col("__t_head"), F.lit("head"))
        .when(F.col("__score") >= F.col("__t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# --- HTML -> text extraction (the web pipeline's step zero) ---------------

# The tag-strip chain shared verbatim with the SQL oracle (plans.queries
# q111). Every pattern is written in the common subset of Java regex
# (Spark) and RE2 (DuckDB): inline (?i)/(?s) flags, non-greedy
# quantifiers, character classes — no lookaround, no backreferences.
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    # comments first: a commented-out <script> must not arm the script
    # stripper ([\s\S] instead of dotall so the flagless pattern crosses
    # newlines identically in both engines)
    (r"<!--[\s\S]*?-->", " "),
    # non-content blocks go away wholesale, tags AND payload
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?is)<title[^>]*>.*?</title>", " "),
    # block-level closers / hard breaks become newlines so paragraph
    # structure survives for the downstream line/paragraph dedup stages
    (
        r"(?i)<(?:br|hr)[^>]*>"
        r"|</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote|pre)[^>]*>",
        "\n",
    ),
    # every remaining tag is inline markup: a word separator
    (r"<[^>]*>", " "),
]

# Minimal entity table (the named entities that appear in machine-written
# HTML; a full HTML5 table is a deployment swap like the PSL). &amp; is
# decoded LAST so '&amp;lt;' decodes to the literal '&lt;', not '<'.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

HTML_COLLAPSE_STEPS: list[tuple[str, str]] = [
    (r"[ \t]+", " "),  # runs of spaces/tabs -> one space
    (r" ?\n ?", "\n"),  # strip spaces hugging newlines
    (r"\n{3,}", "\n\n"),  # >=3 newlines -> paragraph break
]


def html_clean_text(html_col: Column | str) -> Column:
    """Visible text of an HTML document as ONE Column expression: strip
    comments, script/style/title blocks, and tags (block closers become
    newlines so paragraph structure survives); decode the core entities;
    collapse whitespace. Pure regexp_replace chain — JVM-side, zero
    exchange, whole-stage-codegen'd; composes with q98 boilerplate
    removal and q108 paragraph dedup downstream.

    The reference has no web-extraction counterpart (it is an MS
    pipeline); north star: trafilatura/resiliparse's extraction stage
    re-expressed as a deterministic, oracle-checkable column function.
    """
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    for pat, rep in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for ent, ch in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    for pat, rep in HTML_COLLAPSE_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return F.btrim(c, F.lit(" \n\t"))


def html_title(html_col: Column | str) -> Column:
    """Trimmed <title> payload ('' when absent) — the one head element a
    curation pipeline keeps as metadata."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.trim(F.regexp_extract(c, r"(?is)<title[^>]*>(.*?)</title>", 1))


def extract_html_text(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTML -> text extraction over a corpus: (id, title, clean_text,
    n_lines, n_chars). The first stage of a web-crawl pipeline (WARC/WET
    record payloads -> trainable text), feeding every downstream stage
    (q98 boilerplate, q108 paragraph dedup, q105 Gopher rules).

    Scale: a pure per-row map — no shuffle, no UDF, nothing but codegen'd
    string expressions; linear in payload bytes and embarrassingly
    partition-parallel, so the 100 TB path is exactly this plan.

    NULL html extracts as an empty document (title '', text '', zero
    counts) — not a NULL row poisoning downstream aggs (the null-key
    defect class)."""
    clean = html_clean_text(F.coalesce(F.col(html_col), F.lit("")))
    return df.select(
        F.col(id_col),
        html_title(F.coalesce(F.col(html_col), F.lit(""))).alias("title"),
        clean.alias("clean_text"),
        F.when(clean == "", F.lit(0).cast("bigint"))
        .otherwise(F.size(F.split(clean, "\n")).cast("bigint"))
        .alias("n_lines"),
        F.length(clean).cast("bigint").alias("n_chars"),
    )


# --- Mixture / epoch planning (the data-budget side of curation) ----------


def mixture_epoch_plan(
    df: DataFrame,
    weights: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget mixture planning (the DoReMi/Pile-style mixture
    table turned into an executable plan): given integer mixture
    ``weights`` per source and a total training ``budget_tokens``,
    compute per source the available token mass, the target token
    allocation ``budget * w_i / sum(w)``, and the EPOCH count needed to
    fill that allocation (ceil(target / available)) — the number every
    mixture paper reports (how many passes over Wikipedia vs one pass
    over CommonCrawl).

    All arithmetic is integer (floor-div targets, ceil-div epochs via
    the add-den-minus-one device), so the output is hash-exact with no
    float anywhere. Sources absent from ``weights`` are excluded (the
    mixture IS the selection); weighted sources with zero available
    tokens get epochs = 0. A weighted source with NO corpus rows emits
    no row at all (inner join) — callers planning against a fixed
    source list should anti-join the output against the weight keys to
    surface sources the corpus cannot supply.

    Output: (source, weight, available_tokens, target_tokens, epochs).

    Scale: one map-side-combinable token-count agg over the corpus
    (rows out = number of sources), then a broadcast join against the
    k-row weight table — nothing else."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    bad = {s: w for s, w in weights.items() if int(w) <= 0}
    if bad:
        raise ValueError(f"weights must be positive integers, got {bad}")
    den = sum(int(w) for w in weights.values())
    wdf = F.broadcast(
        df.sparkSession.createDataFrame(
            [(s, int(w)) for s, w in sorted(weights.items())],
            f"{source_col} string, weight bigint",
        )
    )
    avail = (
        df.groupBy(source_col)
        .agg(
            F.sum(F.size(tokens(text_col)).cast("bigint"))
            .cast("bigint")
            .alias("available_tokens")
        )
        .join(wdf, source_col)
    )
    # integer div throughout — a double `/` then cast would hit the r12
    # truncate-vs-round divergence class
    target = F.expr(f"(weight * {int(budget_tokens)}) div {den}")
    return avail.withColumn("target_tokens", target.cast("bigint")).select(
        source_col,
        "weight",
        "available_tokens",
        "target_tokens",
        F.when(F.col("available_tokens") <= 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.expr(
                "(target_tokens + available_tokens - 1) div available_tokens"
            ).cast("bigint")
        )
        .alias("epochs"),
    )


def pack_sequences_whole(
    df: DataFrame,
    budget: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Whole-document greedy packing — the SFT-style packer that never
    splits a document across training sequences (q51's concat-and-chunk
    straddles; instruction-tuning pipelines must not): within each
    shard, documents are visited in ``id_col`` order; a document that
    would overflow the open sequence CLOSES it and starts the next one;
    a document longer than ``budget`` sits alone in its own sequence
    with ``kept_tokens`` truncated to the budget.

    Output: (id, shard, n_tokens, seq_id, offset_in_seq, kept_tokens) —
    all bigint/string, hash-exact (the greedy is deterministic).

    Scale: the greedy state (open sequence id + fill) is inherently
    sequential PER SHARD, so it runs as one Arrow grouped-map per shard
    over (id, n_tokens) pairs ONLY — 16 bytes per doc, the text never
    enters the UDF (the W4 greedy-partition stance: Python exactly
    where a scan needs mutable state, on the thinnest possible rows).
    Shards are the parallelism unit, as in pack_sequences."""
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")

    thin = df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col),
        F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
    )

    bud = int(budget)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        seq_ids, offsets, kept = [], [], []
        cur_seq, cur_fill = 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if t > bud:
                if cur_fill > 0:
                    cur_seq += 1
                seq_ids.append(cur_seq)
                offsets.append(0)
                kept.append(bud)
                cur_seq, cur_fill = cur_seq + 1, 0
            elif cur_fill + t <= bud:
                seq_ids.append(cur_seq)
                offsets.append(cur_fill)
                kept.append(t)
                cur_fill += t
            else:
                cur_seq, cur_fill = cur_seq + 1, t
                seq_ids.append(cur_seq)
                offsets.append(0)
                kept.append(t)
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["offset_in_seq"] = pd.Series(offsets, dtype="int64")
        pdf["kept_tokens"] = pd.Series(kept, dtype="int64")
        return pdf

    schema = (
        "shard string, "
        f"{id_col} bigint, n_tokens bigint, seq_id bigint, "
        "offset_in_seq bigint, kept_tokens bigint"
    )
    return thin.groupBy("shard").applyInPandas(pack, schema)


def _normalize_phrases(phrases: list[str]) -> list[str]:
    """Normalize + dedup a blocklist: lowercase, non-alphanumerics to
    spaces, collapse, strip — the SAME chain the document text gets, so
    'X-Rated' and 'x rated' are one phrase. Raises on a phrase that
    normalizes to empty. Returns the sorted distinct normalized forms."""
    norm_set = set()
    for p in phrases:
        n = " ".join(_re.sub(r"[^a-z0-9]+", " ", p.lower()).split())
        if not n:
            raise ValueError(
                "phrases must contain alphanumerics after normalization; "
                f"{p!r} normalizes to empty"
            )
        norm_set.add(n)
    return sorted(norm_set)


def blocklist_filter(
    df: DataFrame,
    phrases: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "inline",
) -> DataFrame:
    """C4-style blocklist gate (Raffel et al. 2020 dropped any page
    containing a "List of Dirty, Naughty ..." phrase): flag documents
    containing any of ``phrases`` as a WORD-BOUNDED, case-insensitive,
    punctuation-insensitive match — 'slow' must not fire inside
    'slowly', and multi-word phrases must match across punctuation.

    Device: normalize once per row (lowercase, non-alphanumerics to
    spaces, collapse, pad with sentinel spaces), then a phrase hit is a
    plain substring test of ``' phrase '`` — no regex alternation over
    the list (a 1000-phrase union regex is a backtracking hazard and
    differs subtly between engines), no word-boundary metachar (Java
    and RE2 agree on \\b only for ASCII; the padded-space device needs
    no such caveat and is exactly mirrorable in SQL).

    Phrases pass through the SAME normalization as the text (so
    'X-Rated' and 'x rated' are one phrase and both match a document
    containing 'x.rated'); a phrase with no alphanumerics raises.

    Output: (id, n_hits, first_hit, blocked) — n_hits counts DISTINCT
    normalized blocklist phrases present (bigint), first_hit is the
    lexicographically smallest matching NORMALIZED phrase ('' when
    clean), blocked the boolean verdict.

    Scale — two engines, one verdict (equivalence pytest-pinned):

    - ``engine='inline'`` (default): a pure per-row map — the
      normalize chain runs once per row (one projection; phrase tests
      share it), each phrase test is one JVM ``contains``; linear in
      corpus bytes x list size, zero exchanges. The bounded-list fast
      path — but every phrase is a LITERAL in one codegen'd
      expression, so a C4-scale list (thousands of phrases) inlines
      thousands of ``contains`` calls: a Janino method-size /
      plan-compile hazard.
    - ``engine='join'``: the 10k+-phrase shape — normalized text
      explodes into contiguous word n-grams of exactly the lengths the
      phrase list contains, the phrase table broadcasts (list-sized),
      the hit set is one keyed agg (countDistinct phrase + min phrase)
      joined back to the id spine. Plan size is CONSTANT in the list
      length (phrases are data, not code); exploded mass is
      corpus tokens x distinct-phrase-lengths, one shuffle on id.
      Contract difference on DUPLICATE ids: the inline engine verdicts
      each ROW; the join engine's keyed agg merges rows sharing an id
      (the WET-ingest conflation class) — feed it unique ids (or a
      per-row surrogate) when rows can collide."""
    if engine not in ("inline", "join"):
        raise ValueError(f"engine must be 'inline' or 'join', got {engine!r}")
    if not phrases:
        raise ValueError("phrases must be a non-empty list")
    # Phrases get the SAME normalization as the document text (lowercase,
    # non-alphanumerics -> space, collapse, strip) — a punctuated phrase
    # like 'x-rated' must match its normalized document form, and
    # first_hit ordering is over the NORMALIZED forms (sort after
    # normalizing, not before lowercasing).
    norm = _normalize_phrases(phrases)
    t = F.concat(
        F.lit(" "),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                    "[^a-z0-9]+",
                    " ",
                ),
                " +",
                " ",
            )
        ),
        F.lit(" "),
    )
    base = df.select(F.col(id_col), t.alias("__t"))
    if engine == "join":
        ptable = df.sparkSession.createDataFrame(
            [(p,) for p in norm], "phrase string"
        )
        lengths = sorted({len(p.split(" ")) for p in norm})
        # Tokens projected into a BOUND column (r16 optimization round,
        # guide §1.2): inlined, the split expression sits inside the
        # per-position n-gram lambda below and re-splits the document
        # for EVERY gram position — O(n_tok) splits per doc per length
        # instead of one.
        tbase = base.select(
            F.col(id_col), F.split(F.trim("__t"), " ").alias("__toks")
        )
        toks = F.col("__toks")

        # contiguous n-grams for exactly the lengths the list contains;
        # a document shorter than n contributes none for that n.
        # The lambda must close over n through a factory, NOT a
        # `lambda i, _n=n` default arg: PySpark derives HOF arity from
        # the Python signature, so a two-param lambda becomes an
        # (element, index) lambda and the "default" silently binds to
        # the INDEX column (observed: ragged slices).
        def _ngrams(n: int):
            return F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(
                        F.slice(toks, i, F.lit(n)), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))

        gram_arrays = [_ngrams(n) for n in lengths]
        grams = tbase.select(
            F.col(id_col),
            F.explode(F.flatten(F.array(*gram_arrays))).alias("__g"),
        )
        hit_agg = (
            grams.join(
                F.broadcast(ptable), grams["__g"] == ptable["phrase"]
            )
            .groupBy(id_col)
            .agg(
                F.countDistinct("phrase").cast("bigint").alias("n_hits"),
                F.min("phrase").alias("first_hit"),
            )
        )
        return (
            base.select(id_col)
            .join(hit_agg, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("n_hits", F.lit(0).cast("bigint")).alias(
                    "n_hits"
                ),
                F.coalesce("first_hit", F.lit("")).alias("first_hit"),
                (F.coalesce("n_hits", F.lit(0)) > 0).alias("blocked"),
            )
        )
    hits = [
        F.contains(F.col("__t"), F.lit(f" {p} ")).alias(f"__h{i}")
        for i, p in enumerate(norm)
    ]
    flagged = base.select(F.col(id_col), *hits)
    n_hits = None
    first = F.lit("")
    # fold in REVERSE lexicographic order so the final when-chain
    # returns the smallest matching phrase
    for i, p in reversed(list(enumerate(norm))):
        h = F.col(f"__h{i}")
        n_hits = h.cast("bigint") if n_hits is None else n_hits + h.cast("bigint")
        first = F.when(h, F.lit(p)).otherwise(first)
    return flagged.select(
        F.col(id_col),
        n_hits.alias("n_hits"),
        first.alias("first_hit"),
        (n_hits > 0).alias("blocked"),
    )
