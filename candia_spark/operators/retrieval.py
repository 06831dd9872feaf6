"""Corpus retrieval & reference-model scoring operators.

Two text-pipeline capabilities the training-data north star needs beyond
dedup/clustering (reference scope: the candia pipeline has no retrieval
surface; these extend SURVEY §8's text-analysis inventory):

- :func:`bm25_topk` — keyword relevance ranking over the corpus, the
  retrieval half of data curation loops (mine examples matching a probe
  query, source attribution, targeted decontamination). Uses the
  LOG-FREE odds form of the BM25 idf: ``(N - df + 0.5) / (df + 0.5)``
  rather than its logarithm. Rationale is cross-engine exactness, the
  repo-wide oracle doctrine: +, -, *, / on IEEE doubles are bit-exact
  across engines while ``ln`` is only faithfully rounded (libm vs JVM
  may differ in the last ulp), and the log-free form preserves the
  classic idf ordering per term (log is monotone). All literals are
  pre-folded in Python and inlined identically into the Spark plan and
  the DuckDB oracle, so both engines evaluate the very same double
  expression tree.

- :func:`ngram_novelty` — per-document fraction of word n-grams unseen
  in a REFERENCE sub-corpus: the KenLM-ish "how unlike the trusted
  corpus is this document" quality/contamination gate, with exact
  integer counts and a single exact division (no log-probabilities, no
  order-dependent float sums — an engine-exact statistic by
  construction).

Scale notes per operator are in their docstrings; both avoid Python
UDFs entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _tokens(text_col: str) -> Column:
    # raw single-space split, consistent with the corpus interchange
    # convention used by the dedup family's tokens_col minus the
    # lowercasing (queries choose their own normalization)
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != "")


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by (log-free) BM25 relevance to
    ``query_terms``: (id, dl, tf_<term>..., score), ordered by
    (score DESC, id ASC) — the deterministic tie-break that makes the
    selected SET reproducible across engines and partitionings.

    Scale design — zero corpus shuffles: per-term tf is a pure map
    (``size(filter(tokens, = term))`` — no explode, no join), the corpus
    statistics (N, total token count, per-term document frequencies) are
    ONE single-row aggregate broadcast back via crossJoin, and the top-k
    is TakeOrderedAndProject (per-partition heads + driver merge of
    ``k * partitions`` rows, never a global sort shuffle). Cost is one
    corpus pass for the stats row and one for the scored scan; at 100 TB
    both are embarrassingly parallel scans whose width is the token
    array, and the only data movement is the k-row partition heads.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError(f"query_terms must be distinct, got {query_terms}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from candia_spark.operators.materialize import cut

    toks = _tokens(text_col)

    def _tf(term: str) -> Column:
        # NB: a one-arg lambda only — pyspark passes the array INDEX to a
        # second lambda parameter, so default-arg capture would silently
        # bind the term name to the index column
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    # the tokenized scan feeds BOTH the stats aggregate and the scored
    # scan — cut it once (materialize doctrine) so the corpus tokenizes
    # one time, and the second pass reads narrow (id, dl, tf...) rows
    base, _ = cut(
        df.select(
            F.col(id_col),
            F.size(toks).cast("bigint").alias("dl"),
            *[
                _tf(term).cast("bigint").alias(f"tf_{i}")
                for i, term in enumerate(query_terms)
            ],
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = base.crossJoin(F.broadcast(stats))
    # identical double expression tree to the oracle SQL: literals are
    # pre-folded python doubles, every op is +,-,*,/ on doubles
    c1 = float(k1) + 1.0
    one_minus_b = 1.0 - float(b)
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = (
            F.col("n_docs").cast("double") - F.col(f"df_{i}").cast("double") + F.lit(0.5)
        ) / (F.col(f"df_{i}").cast("double") + F.lit(0.5))
        part = (tf * F.lit(c1)) / (
            tf + F.lit(float(k1)) * (F.lit(one_minus_b) + F.lit(float(b)) * (F.col("dl").cast("double") / avgdl))
        )
        score = score + idf * part
    scored = joined.select(
        id_col,
        "dl",
        *[
            F.col(f"tf_{i}").alias(f"tf_{term}")
            for i, term in enumerate(query_terms)
        ],
        score.alias("score"),
    )
    matched = scored.filter(
        sum(
            (F.col(f"tf_{term}") > 0).cast("int")
            for term in query_terms
        )
        > 0
    )
    return matched.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def bm25_oracle_sql(
    table: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """The DuckDB oracle for :func:`bm25_topk`, generated from the SAME
    parameters so the two expression trees (and their pre-folded double
    literals) can never diverge — the mixture_targets device applied to
    a whole scoring expression."""
    # DuckDB parses a bare decimal literal as DECIMAL, not DOUBLE — cast
    # explicitly so both engines hold the identical IEEE double (the
    # decimal-to-double cast rounds to nearest, same as Python's parse)
    def dlit(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    c1 = dlit(float(k1) + 1.0)
    omb = dlit(1.0 - float(b))
    kl = dlit(float(k1))
    bl = dlit(float(b))
    tf_defs = ", ".join(
        "CAST(len(list_filter(string_split({t}, ' '), x -> x = '{term}')) AS BIGINT)"
        " AS tf_{i}".format(t=text_col, term=term, i=i)
        for i, term in enumerate(query_terms)
    )
    df_defs = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(query_terms))
    )
    half = dlit(0.5)
    score_terms = " + ".join(
        (
            "((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + {half})"
            " / (CAST(df_{i} AS DOUBLE) + {half}))"
            " * ((CAST(tf_{i} AS DOUBLE) * {c1})"
            " / (CAST(tf_{i} AS DOUBLE) + {kl} * ({omb} + {bl}"
            " * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE)"
            " / CAST(n_docs AS DOUBLE))))))"
        ).format(i=i, c1=c1, kl=kl, omb=omb, bl=bl, half=half)
        for i in range(len(query_terms))
    )
    tf_out = ", ".join(
        f"tf_{i} AS \"tf_{term}\"" for i, term in enumerate(query_terms)
    )
    any_match = " OR ".join(f"tf_{i} > 0" for i in range(len(query_terms)))
    return f"""
    WITH base AS (
        SELECT {id_col},
               CAST(len(list_filter(string_split({text_col}, ' '), x -> x <> '')) AS BIGINT) AS dl,
               {tf_defs}
        FROM {table}),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS sum_dl,
               {df_defs}
        FROM base)
    SELECT {id_col}, dl, {tf_out},
           CAST(0.0 AS DOUBLE) + {score_terms} AS score
    FROM base, stats
    WHERE {any_match}
    ORDER BY score DESC, {id_col} ASC
    LIMIT {int(k)}
    """


def ngram_novelty(
    df: DataFrame,
    reference: Column,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document n-gram novelty against a reference sub-corpus:
    (id, n_grams, n_unseen, novelty) where ``n_unseen`` counts the
    document's n-gram OCCURRENCES (positions, not distinct types) whose
    n-gram never appears in any document satisfying the ``reference``
    predicate, and ``novelty = n_unseen / n_grams`` (one exact double
    division; null when the document has no n-grams). High novelty =
    unlike the trusted corpus — the language-model-free stand-in for a
    KenLM perplexity gate, and the exactness-friendly one: integer
    counts plus a single division, no order-dependent float sums.

    Scale design: the reference vocabulary is distinct n-grams of the
    reference slice (column-pruned scan + one distinct). With
    ``broadcast_vocab`` (default) it ships to every task and the unseen
    count is a broadcast LEFT ANTI join — no corpus shuffle at all,
    right whenever the vocabulary fits the broadcast budget (same
    contract as the TF-IDF census's ``broadcast_census``). At corpora
    where it cannot, set False: both sides exchange hash-keyed by the
    gram, the canonical distributed anti join. Per-doc totals are
    computed map-side BEFORE the explode, so the join carries (id, gram)
    pairs only."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    # tokens projected into a BOUND column (r16 optimization round,
    # guide §1.2): inlined, the tokenize expression sits inside the
    # per-position gram lambda and re-tokenizes the document for every
    # gram position — O(n_tok) tokenizations per doc instead of one
    toks = F.col("__toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from candia_spark.operators.materialize import cut

    # the gram-array scan feeds THREE branches (per-doc totals, the
    # occurrence explode, the reference vocabulary) — cut it once so the
    # corpus tokenizes and gram-builds one time (materialize doctrine;
    # measured 4.0 -> ~1.5 s at sf0.1)
    base, _ = cut(
        df.select(
            F.col(id_col),
            reference.alias("__ref"),
            _tokens(text_col).alias("__toks"),
        ).select(
            F.col(id_col),
            F.col("__ref"),
            grams.alias("__grams"),
        )
    )
    per_doc = base.select(
        F.col(id_col), F.size("__grams").cast("bigint").alias("n_grams")
    )
    occurrences = base.select(F.col(id_col), F.explode("__grams").alias("g"))
    vocab = (
        base.filter(F.col("__ref"))
        .select(F.explode("__grams").alias("g"))
        .distinct()
    )
    if broadcast_vocab:
        vocab = F.broadcast(vocab)
    unseen = (
        occurrences.join(vocab, "g", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unseen"))
    )
    return (
        per_doc.join(unseen, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.coalesce(F.col("n_unseen"), F.lit(0).cast("bigint")).alias(
                "n_unseen"
            ),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce(F.col("n_unseen"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
            ).alias("novelty"),
        )
    )


def borda_fuse(
    ranked: list[DataFrame],
    depth: int,
    out_k: int = 10,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Integer-exact hybrid-retrieval rank fusion (Borda counting): each
    ranked list contributes ``depth + 1 - rank`` points for every id it
    ranks within ``depth`` (absent ids contribute 0 from that list), and
    the fused order is total points descending, id ascending. This is
    the division-free sibling of reciprocal-rank fusion — RRF's
    1/(60+rank) weights would drag order-sensitive float sums into the
    gate, while Borda stays in bigint, so a dense (cosine) and a sparse
    (BM25) ranking fuse with an engine-exact answer.

    Input contract: every DataFrame in ``ranked`` carries (``id_col``,
    ``rank_col``) with rank starting at 1; rows ranked beyond ``depth``
    are ignored. Output: (id, fused_points, n_lists, fused_rank) for the
    top ``out_k`` fused ids, where n_lists counts how many lists ranked
    the id (the agreement signal a reranker thresholds on).

    Scale shape: the inputs are top-k outputs, so the union holds at
    most ``len(ranked) * depth`` rows — the one keyed agg and the global
    rank window run on that bounded table, never on a corpus. The
    expensive part of hybrid retrieval is producing the per-modality
    top-k lists (bm25_topk: zero corpus shuffles; cosine_topk: broadcast
    queries), and fusion adds nothing corpus-sized on top."""
    if not ranked:
        raise ValueError("ranked must be non-empty")
    if depth <= 0 or out_k <= 0:
        raise ValueError(f"depth/out_k must be positive, got {depth}/{out_k}")
    from pyspark.sql import Window

    pts = None
    for r in ranked:
        p = r.filter(F.col(rank_col) <= depth).select(
            F.col(id_col),
            (F.lit(depth + 1) - F.col(rank_col)).cast("bigint").alias("__p"),
        )
        pts = p if pts is None else pts.unionByName(p)
    fused = pts.groupBy(id_col).agg(
        F.sum("__p").cast("bigint").alias("fused_points"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
    )
    w = Window.orderBy(F.col("fused_points").desc(), F.col(id_col).asc())
    return fused.select(
        F.col(id_col),
        "fused_points",
        "n_lists",
        F.row_number().over(w).cast("bigint").alias("fused_rank"),
    ).filter(F.col("fused_rank") <= out_k)


def ann_recall_audit(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k against an exact top-k — the
    evaluation harness every ANN deployment runs before trusting an
    index (the IVFADC/PQ family's measured-recall contract, Jégou et
    al. 2011 §V): per query, how many of the TRUE top-k ids the
    approximate index surfaced. Both inputs are (query_id, id, ...)
    top-k frames (e.g. :func:`candia_spark.operators.similarity
    .cosine_topk_int8` as truth, any of the PQ/IVF paths as approx).

    Output: (query_id, n_true, n_overlap, recall) — n_overlap counts
    ids present in BOTH lists, recall = n_overlap / k as a double
    (division by the integer constant k: exact for the small integer
    numerators a top-k produces). Every truth query keeps its row even
    at zero overlap. Both key sets are DISTINCT-projected before the
    join (ADVICE r14): a list that carries duplicate (query, id) rows
    — a buggy index under audit is exactly the kind of input that
    might — would otherwise multiply-count both n_true and n_overlap.
    On a corpus smaller than k the truth list is short and n_true < k;
    recall still divides by the REQUESTED k (the deployment asked for
    k answers — an index that cannot produce them scores accordingly);
    read n_overlap / n_true for list-completeness-adjusted recall.

    Input depth is VALIDATED (ADVICE r15): a frame deeper than k per
    query — an unranked candidate list, or a rank>k frame — would
    silently inflate n_true/n_overlap and report recall > 1.0. A frame
    that carries a ``rank`` column is rank-filtered to ``rank <= k``
    (the top-k family's own cut, zero extra work); a frame without one
    gets an in-plan per-query depth guard that raises loudly past k
    distinct ids.

    Scale: two list-sized inputs (Q*k rows each — the corpora already
    collapsed by the top-k passes), one keyed left join + one keyed
    agg; the depth guard is a window count over the same list-sized
    rows; nothing corpus-sized."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    def _bounded(df: DataFrame, side: str) -> DataFrame:
        if "rank" in df.columns:
            df = df.filter(F.col("rank") <= k)
        sel = df.select(F.col(query_id_col), F.col(id_col)).distinct()
        if "rank" in df.columns:
            return sel
        dtype = sel.schema[id_col].dataType
        depth = F.count(F.lit(1)).over(Window.partitionBy(query_id_col))
        return sel.select(
            F.col(query_id_col),
            F.when(
                depth > k,
                F.raise_error(
                    F.format_string(
                        f"ann_recall_audit: {side} side carries more than "
                        f"k={k} rows for query %s — recall would exceed "
                        "1.0; rank-filter the input or pass the k it was "
                        "ranked with",
                        F.col(query_id_col).cast("string"),
                    )
                ).cast(dtype),
            )
            .otherwise(F.col(id_col))
            .alias(id_col),
        )

    t = _bounded(truth, "truth")
    a = _bounded(approx, "approx").withColumnRenamed(id_col, "__aid")
    joined = t.join(
        a,
        (t[query_id_col] == a[query_id_col])
        & (F.col(id_col) == F.col("__aid")),
        "left",
    ).select(t[query_id_col].alias("__qid"), id_col, "__aid")
    out = joined.groupBy(F.col("__qid").alias(query_id_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(F.col("__aid").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_overlap"),
    )
    return out.select(
        query_id_col,
        "n_true",
        "n_overlap",
        (F.col("n_overlap").cast("double") / F.lit(float(k))).alias(
            "recall"
        ),
    )
