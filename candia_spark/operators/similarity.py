"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k as the exact baseline, and a random-hyperplane LSH-bucketed
variant as the scale path.

Scale design:
- Brute force is O(Q*N) dot products — exact, fine when the query set is
  small and broadcastable (it is here: queries broadcast, corpus streams).
- LSH buckets the corpus once (b hyperplane sign bits -> 2^b buckets), then
  only joins queries to their bucket (plus optional multi-probe neighbors).
  Recall is tunable by bits/probes; candidates per query drop ~2^b-fold.
- An IVF variant would replace random planes with k-means centroids; the
  bucketing/join plumbing below is identical, so it slots in unchanged.

All arithmetic is cast to double before accumulation so results are
reproducible against the DuckDB oracle (see plans.queries q30 family).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_sql(col: str) -> str:
    """SQL for the L2 norm of array column ``col`` in double, summed in
    lane order."""
    return (
        f"sqrt(aggregate(transform(`{col}`, x -> CAST(x AS DOUBLE) * "
        "CAST(x AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
    )


def _norm(col: str):
    # one SQL expression: one py4j call to build instead of about ten
    return F.expr(_norm_sql(col))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine similarity for every query vector.

    Output: (query_id, vec_id, cosine, rank), rank 1..k, ties broken by
    vec_id ascending. Similarity is rounded before ranking so the ordering
    is stable across engines/float orders.

    Scale: broadcast(queries) x corpus — no corpus shuffle; the per-query
    top-k is a window over (query_id), shuffling only Q*N score rows. For
    large Q, pre-aggregate per partition with a bounded heap (mapInPandas)
    before the global window; for large N, use the LSH variant.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(vec_col).alias("__qnorm"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        _norm(vec_col).alias("__cnorm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "cosine",
            F.round(
                _dot(F.col("__qvec"), F.col("__cvec"))
                / (F.col("__qnorm") * F.col("__cnorm")),
                round_digits,
            ).cast("double"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def hyperplanes(n_bits: int = 4, dim: int = 64, seed: int = 42) -> np.ndarray:
    """The seeded random hyperplane set used by :func:`cosine_topk_lsh`.

    Exposed as a function (rather than generated inline) so the DuckDB
    oracle for q31 can embed the SAME plane values as SQL literals — the
    bucket assignment then becomes a pure function both engines compute
    identically, which is what makes an approximate-selection query
    hash-checkable.
    """
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def hyperplane_lsh_bucket(
    df: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Attach the random-hyperplane LSH bucket id: bit j = sign of
    <vec, plane_j>. ``planes`` is (n_bits, dim), generated once on the
    driver (seeded) and embedded as literals — no per-row Python.
    """
    bits = []
    for j in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        bits.append(
            F.when(_dot(F.col(vec_col), plane) >= 0, F.shiftleft(F.lit(1).cast("bigint"), j))
            .otherwise(F.lit(0).cast("bigint"))
        )
    return df.withColumn(out_col, sum(bits[1:], bits[0]))


def train_spherical_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Driver-side spherical k-means on a bounded sample: centroids for an
    IVF index. The sample collect is O(sample_size * dim) regardless of
    corpus size; assignment of the full corpus stays distributed.

    The sample is the ``sample_size`` rows with the smallest xxhash64 of
    the vector — a deterministic uniform draw independent of partitioning
    (a bare ``limit`` would take whichever partitions answer first: biased
    toward early files AND unstable across runs). Spark plans this as
    TakeOrdered — no full sort materialization."""
    rows = (
        corpus.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col)))
        .limit(sample_size)
        .collect()
    )
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def _centroid_scores(vec_col: str, centroids: np.ndarray):
    """Array column of <normalized vec, centroid_i> for every centroid."""
    norm = _norm(vec_col)
    return F.array(
        *[
            _dot(F.col(vec_col), F.array(*[F.lit(float(v)) for v in c])) / norm
            for c in centroids
        ]
    )


def ivf_bucket(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Attach the IVF cell id: argmax-cosine centroid (1-based)."""
    scores = _centroid_scores(vec_col, centroids)
    return df.withColumn(
        out_col, F.array_position(scores, F.array_max(scores)).cast("int")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors live in their nearest-
    centroid cell; each query probes its ``nprobe`` closest cells only.

    Same plumbing as the LSH variant (bucket column + equi-join); the
    bucketing function is learned instead of random, which adapts cell
    populations to the data distribution — the standard recall-per-probe
    improvement over hyperplane LSH. ``centroids`` can be passed in to
    reuse a trained index across calls (at scale: train once, persist the
    bucketed corpus, probe many query batches).
    """
    if centroids is None:
        centroids = train_spherical_centroids(
            corpus, n_centroids, vec_col, seed=seed
        )
    cb = ivf_bucket(corpus, centroids, vec_col)
    qscores = _centroid_scores(vec_col, centroids)
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    qscores,
                    lambda s, i: F.struct(s.alias("s"), (i + 1).alias("c")),
                )
            )
        ),
        1,
        nprobe,
    )
    qb = queries.withColumn(
        "bucket", F.explode(F.transform(ranked, lambda e: e["c"].cast("int")))
    )
    q = qb.select(
        F.col(query_id_col),
        F.col("bucket"),
        F.col(vec_col).alias("__qvec"),
        _norm(vec_col).alias("__qnorm"),
    )
    c = cb.select(
        F.col(id_col),
        F.col("bucket"),
        F.col(vec_col).alias("__cvec"),
        _norm(vec_col).alias("__cnorm"),
    )
    scored = q.join(c, "bucket").withColumn(
        "cosine",
        F.round(
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).cast("double"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 4,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket are scored. Same output shape as the brute-force baseline;
    recall < 1 by design (pytest pins it on synthetic clusters).
    """
    planes = hyperplanes(n_bits, dim, seed)
    cb = hyperplane_lsh_bucket(corpus, planes, vec_col)
    qb = hyperplane_lsh_bucket(queries, planes, vec_col)
    q = qb.select(
        F.col(query_id_col),
        F.col("bucket"),
        F.col(vec_col).alias("__qvec"),
        _norm(vec_col).alias("__qnorm"),
    )
    c = cb.select(
        F.col(id_col),
        F.col("bucket"),
        F.col(vec_col).alias("__cvec"),
        _norm(vec_col).alias("__cnorm"),
    )
    scored = q.join(c, "bucket").withColumn(
        "cosine",
        F.round(
            _dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qnorm") * F.col("__cnorm")),
            6,
        ).cast("double"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space member of
    the dedup family (exact / n-gram / MinHash-LSH / SimHash / this).

    Same generate-then-verify contract as the text dedup operators:
    candidates are pairs whose hyperplane-LSH buckets agree (optionally
    within Hamming distance 1 via single-bit multiprobe on ONE side — xor
    symmetry makes one-sided probing cover both directions), then the exact
    cosine is computed on candidates only and pairs >= ``threshold`` are
    kept with id_a < id_b.

    Scale: pair generation happens inside buckets (an equi-join on the
    bucket id), never across the full corpus; multiprobe multiplies one
    side's rows by (n_bits + 1), not the pair count. The exact verify
    touches candidates only. Deterministic: seeded planes embedded as
    literals (no per-row Python), so the q42 oracle recomputes the same
    selection in SQL.
    """
    planes = hyperplanes(n_bits, dim, seed)
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        _norm(vec_col).alias("__n"),
    )
    b = hyperplane_lsh_bucket(base, planes, vec_col="__v", out_col="__bucket")
    if multiprobe:
        probes = F.explode(
            F.array(
                F.col("__bucket"),
                *[
                    F.col("__bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(n_bits)
                ],
            )
        )
    else:
        probes = F.col("__bucket")
    left = b.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        probes.alias("__probe"),
    )
    right = b.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        F.col("__bucket").alias("__probe"),
    )
    # a pair meets at most once: probes differ from the base bucket in
    # exactly one bit, so (bucket_a == bucket_b) matches only via the
    # identity probe and hamming-1 pairs only via the single matching flip
    pairs = left.join(right, on="__probe").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            F.round(
                _dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                round_digits,
            ).cast("double"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def _mmr_greedy(cand: dict, qd: dict, k: int, num: int, den: int) -> list:
    """The MMR greedy itself, shared verbatim by both engines of
    :func:`mmr_select` so their trajectories are bit-identical:
    ``cand`` maps id -> relevance (rounded double), ``qd`` maps
    ``(min_id, max_id)`` -> pairwise similarity (rounded double).
    Returns ``[(id, rank)]``, rank 1..k; rank 1 is the pure-relevance
    argmax; every tie breaks to the smallest id. All inputs are doubles
    that were rounded IN SPARK, so python/numpy/DuckDB replay the float
    comparisons identically (the q95 device)."""
    first = max(cand.items(), key=lambda kv: (kv[1], -kv[0]))[0]
    picks = [(first, 1)]
    selected = [first]
    remaining = set(cand) - {first}
    for rank in range(2, k + 1):
        if not remaining:
            break
        best_v, best_score = None, None
        for v in sorted(remaining):
            maxsim = max(
                qd[(v, s)] if v < s else qd[(s, v)] for s in selected
            )
            score = num * cand[v] - (den - num) * maxsim
            if best_score is None or score > best_score:
                best_v, best_score = v, score
        selected.append(best_v)
        remaining.discard(best_v)
        picks.append((best_v, rank))
    return picks


def mmr_select(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    shortlist: int = 40,
    lam: tuple[int, int] = (1, 2),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
    engine: str = "driver",
    topk_engine: str = "window",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998)
    — the diversity reranker every retrieval-augmented pipeline runs on
    its shortlist: greedily pick ``k`` items maximizing
    ``λ·relevance − (1−λ)·max-similarity-to-already-selected``, so the
    result covers the query's neighborhood instead of returning ``k``
    near-copies of the top hit (which, on a near-dup-ridden training
    corpus, is exactly what plain top-k returns).

    Output: (query_id, vec_id, mmr_rank), rank 1..k per query; rank 1
    is the pure-relevance argmax; ties always break to the smallest id.
    ``lam`` is an integer fraction (num, den) and the greedy compares
    the division-free score ``num·rel − (den−num)·maxsim`` — same
    ordering, no division.

    Scale shape — the standard rerank-the-shortlist contract: the
    corpus pays ONE distributed pass (the exact top-``shortlist``
    cosine scan, :func:`cosine_topk_bruteforce`: broadcast queries,
    no corpus shuffle); the pairwise similarity matrix is computed
    among shortlist members only (Q·shortlist² rows, broadcast-joined).
    The greedy itself is sequential PER QUERY (each pick changes every
    remaining score) but embarrassingly parallel ACROSS queries, and
    ``engine`` picks where it runs:

    - ``"driver"`` — collect the scores (not documents) and loop on the
      driver. Honest for ≤ a few thousand shortlist entries; a 10⁵-query
      batch at shortlist=40 would collect ~8·10⁷ rows and serialize
      10⁵ greedy loops on one core.
    - ``"grouped"`` — the scale path: the same score rows stay
      distributed, ``groupBy(query_id).applyInPandas`` runs the
      IDENTICAL greedy (:func:`_mmr_greedy`, shared code object) per
      query group, and no node ever holds more than one query's
      shortlist. Selected whenever the query batch is large.

    Both engines replay the same float trajectory: all similarities are
    rounded to ``round_digits`` IN SPARK first (the q30 device), and
    python/pandas float64 arithmetic on identical doubles is identical,
    so the whole greedy — float comparisons included — is engine-exact
    and an unrolled-CTE oracle can gate either leg (q95; the
    equivalence pytest pins driver ≡ grouped on the full trajectory).

    ``topk_engine`` picks how the shortlist itself is computed —
    ``"window"`` is :func:`cosine_topk_bruteforce` (per-query window
    rank over Q·N score rows: simple, but the Q·N shuffle is the
    documented killer for large query batches), ``"heap"`` is
    :func:`cosine_topk_bruteforce_heap` (per-partition vectorized
    numpy top-k, only Q·k·P candidate rows reach the final window).
    The two produce the IDENTICAL shortlist set under the
    (cosine desc, id asc) contract (pytest-pinned set-equality), so
    the downstream greedy is unaffected; ``engine="grouped",
    topk_engine="heap"`` is the full scale configuration — no Q·N
    shuffle anywhere and nothing query-batch-sized on the driver.

    Zero-norm embeddings have no cosine and fail LOUDLY (ADVICE r10 —
    the greedy used to crash on a bare None): under ANSI (this
    session's default) the norm division throws DIVIDE_BY_ZERO in the
    shortlist scan itself; under non-ANSI it yields NULL, and both
    engines then raise a descriptive ``ValueError`` before the greedy
    runs — the oracle data is assumed non-degenerate either way."""
    num, den = lam
    if not (0 < den and 0 <= num <= den):
        raise ValueError(f"lam must satisfy 0 <= num <= den, got {lam}")
    if not (1 <= k <= shortlist):
        raise ValueError(
            f"need 1 <= k <= shortlist, got k={k}, shortlist={shortlist}"
        )
    if engine not in ("driver", "grouped"):
        raise ValueError(
            f"engine must be 'driver' or 'grouped', got {engine!r}"
        )
    if topk_engine not in ("window", "heap"):
        raise ValueError(
            f"topk_engine must be 'window' or 'heap', got {topk_engine!r}"
        )
    topk = (
        cosine_topk_bruteforce
        if topk_engine == "window"
        else cosine_topk_bruteforce_heap
    )
    sl = topk(
        corpus, queries, k=shortlist, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col, round_digits=round_digits,
    ).select(query_id_col, id_col, "cosine")
    # pairwise similarities among each query's shortlist members: the
    # shortlist ids rejoin the corpus for their vectors, then a per-query
    # id_a < id_b self-join — Q * shortlist^2 / 2 rows, broadcast-sized
    emb = corpus.select(
        F.col(id_col), F.col(vec_col).alias("__v"),
        _norm(vec_col).alias("__n"),
    )
    se = sl.join(emb, id_col).select(
        query_id_col, F.col(id_col), "__v", "__n"
    )
    a = se.select(
        query_id_col, F.col(id_col).alias("__ia"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = se.select(
        query_id_col, F.col(id_col).alias("__ib"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    sims = (
        a.join(b, query_id_col)
        .filter(F.col("__ia") < F.col("__ib"))
        .select(
            query_id_col, "__ia", "__ib",
            F.round(
                _dot(F.col("__va"), F.col("__vb"))
                / (F.col("__na") * F.col("__nb")),
                round_digits,
            ).cast("double").alias("__sim"),
        )
    )
    out_schema = f"{query_id_col} bigint, {id_col} bigint, mmr_rank bigint"
    degenerate = (
        "mmr_select: zero-norm embedding in the shortlist produced a "
        "NULL similarity (query_id=%s) — drop zero-norm vectors from "
        "the corpus/queries before reranking"
    )

    if engine == "grouped":
        # the same score rows, kept distributed: relevance rows ride
        # with __ib = -1 (ids are the join keys of real vectors; -1 is
        # the kind sentinel, never a similarity endpoint), so the whole
        # per-query state is one int64/double pandas frame — no
        # null-widened float columns to corrupt large ids. The sentinel
        # reserves the negative id space: a shortlist containing a
        # negative vec_id would make a similarity row's min-id
        # indistinguishable from a relevance row, so the per-query UDF
        # validates min(id) >= 0 and fails LOUDLY (ADVICE r11 — the
        # driver engine has no sentinel and accepts any int64 id; the
        # restriction is grouped-only and checked, not assumed)
        rel_part = sl.select(
            F.col(query_id_col).alias("__qid"),
            F.col(id_col).alias("__ia"),
            F.lit(-1).cast("bigint").alias("__ib"),
            F.col("cosine").alias("__val"),
        )
        sim_part = sims.select(
            F.col(query_id_col).alias("__qid"),
            "__ia",
            "__ib",
            F.col("__sim").alias("__val"),
        )

        def _per_query(pdf):
            import pandas as pd

            qid = int(pdf["__qid"].iloc[0])
            if pdf["__val"].isna().any():
                raise ValueError(degenerate % qid)
            if (pdf["__ia"] < 0).any():
                raise ValueError(
                    "mmr_select(engine='grouped'): negative vec_id in "
                    f"the shortlist of query_id={qid} — the grouped "
                    "engine reserves id=-1 as its relevance-row "
                    "sentinel; use engine='driver' for corpora with "
                    "negative ids"
                )
            cand, qd = {}, {}
            for ia, ib, val in zip(
                pdf["__ia"], pdf["__ib"], pdf["__val"]
            ):
                if ib == -1:
                    cand[int(ia)] = float(val)
                else:
                    qd[(int(ia), int(ib))] = float(val)
            picks = _mmr_greedy(cand, qd, k, num, den)
            return pd.DataFrame(
                {
                    "__qid": [qid] * len(picks),
                    "__id": [p[0] for p in picks],
                    "__rank": [p[1] for p in picks],
                }
            )

        return (
            rel_part.unionByName(sim_part)
            .groupBy("__qid")
            .applyInPandas(_per_query, "__qid long, __id long, __rank long")
            .select(
                F.col("__qid").alias(query_id_col),
                F.col("__id").alias(id_col),
                F.col("__rank").alias("mmr_rank"),
            )
        )

    rel_rows = sl.collect()
    sim_rows = sims.collect()
    rel: dict = {}
    for r in rel_rows:
        if r["cosine"] is None:
            raise ValueError(degenerate % r[query_id_col])
        rel.setdefault(r[query_id_col], {})[r[id_col]] = r["cosine"]
    simmap: dict = {}
    for r in sim_rows:
        if r["__sim"] is None:
            raise ValueError(degenerate % r[query_id_col])
        qd = simmap.setdefault(r[query_id_col], {})
        qd[(r["__ia"], r["__ib"])] = r["__sim"]

    out = []
    for qid, cand in rel.items():
        for vid, rank in _mmr_greedy(cand, simmap.get(qid, {}), k, num, den):
            out.append((qid, vid, rank))
    return corpus.sparkSession.createDataFrame(out, out_schema)


def cosine_topk_bruteforce_heap(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k for LARGE query sets — the scale path the plain
    broadcast-window formulation documents but cannot take.

    ``cosine_topk_bruteforce`` shuffles Q*N score rows into the per-query
    window; at Q=10k, N=10M that is 10^11 rows. Here each corpus partition
    computes scores against ALL queries with one Arrow-batched numpy
    matmul (vectorized, no per-row expression work) and emits only its
    per-partition top-k candidates per query — rows that tie the k-th
    score are INCLUDED, so the per-partition cut provably contains the
    global winners under the (cosine desc, id asc) contract. The final
    window ranks Q*k*P candidate rows instead of Q*N.

    Output and rounding contract match cosine_topk_bruteforce exactly;
    the pytest pins set-equality of the two paths. Zero-norm vectors
    fail LOUDLY on either side (ADVICE r11 — the numpy normalization
    used to propagate NaN scores that silently DROPPED the row from
    the candidate cut, diverging from the window engine's ANSI
    DIVIDE_BY_ZERO and the mmr engines' descriptive ValueError):
    a zero-norm query raises here on the driver, a zero-norm corpus
    vector raises inside the Arrow batch before any score is emitted.
    """
    zero_norm = (
        "cosine_topk_bruteforce_heap: zero-norm %s vector (id=%s) has "
        "no cosine — drop zero-norm vectors before searching (same "
        "contract as mmr_select and the ANSI window engine)"
    )
    sess = corpus.sparkSession
    qrows = queries.select(query_id_col, vec_col).collect()
    q_ids = np.array([r[query_id_col] for r in qrows], dtype=np.int64)
    qm = np.array([list(r[vec_col]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1, keepdims=True)
    if (qnorm == 0).any():
        bad = int(q_ids[np.nonzero(qnorm[:, 0] == 0)[0][0]])
        raise ValueError(zero_norm % ("query", bad))
    qn = qm / qnorm
    bc = sess.sparkContext.broadcast((q_ids, qn))

    schema = (
        f"{query_id_col} long, {id_col} long, cosine double"
    )

    def part(batches):
        import pandas as pd

        ids_q, qmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cid = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            cnorm = np.linalg.norm(cm, axis=1, keepdims=True)
            if (cnorm == 0).any():
                bad = int(cid[np.nonzero(cnorm[:, 0] == 0)[0][0]])
                raise ValueError(zero_norm % ("corpus", bad))
            cm = cm / cnorm
            scores = np.round(qmat @ cm.T, round_digits)  # Q x B
            b = scores.shape[1]
            keff = min(k, b)
            kth = np.partition(scores, b - keff, axis=1)[:, b - keff]
            out_q, out_c, out_s = [], [], []
            for qi in range(scores.shape[0]):
                mask = scores[qi] >= kth[qi]  # ties at the boundary kept
                out_q.append(np.full(mask.sum(), ids_q[qi]))
                out_c.append(cid[mask])
                out_s.append(scores[qi][mask])
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(part, schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "cosine", F.col("rank").cast("bigint").alias("rank")
        )
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Unit-normalize and int8-quantize an embedding column:
    ``q_i = floor(x_i / ||x|| * scale)``, a bigint array in
    [-scale, scale].

    This is the memory lever of a production vector pipeline: a 64-dim
    float32 corpus at 10^10 vectors is 2.5 TB of vector payload; int8
    is 4x smaller on the wire and in every shuffle, and the dot product
    becomes pure bigint arithmetic (max |dot| = dim * scale^2 ~ 10^6 at
    64 dims — nowhere near 2^63). Every step is engine-exact: float ->
    double widening is value-preserving, double division/multiplication
    of identical inputs is identical IEEE on any engine, and ``floor``
    is exact — so the quantized vectors (and everything computed from
    them) are bit-identical cross-engine with NO rounding device
    needed, unlike the float-cosine paths that must ROUND(…,6) before
    a gate.

    Zero-norm vectors raise loudly in-plan (the mmr_select contract —
    ADVICE r11 made silent zero-norm drops a defect class); an empty
    array has no lane to divide and quantizes to ``[]``.

    Output: (id, qvec). ``scale`` defaults to 127 (int8 range).
    ``carry`` names extra ``df`` columns appended unchanged after
    ``qvec`` — the one-scan quantize+route device (a caller that needs
    the quantized lanes AND an already-computed per-row key, e.g. the
    IVF cell, reads the corpus once instead of joining two scans)."""
    from candia_spark.operators.clustering import _check_carry

    _check_carry(carry, {id_col, "qvec"}, "quantize_int8")
    # an empty array has norm 0 but nothing to divide: it stays []. The
    # norm enters the lambda as a repeated lane, evaluated once per row:
    # referenced inside the lambda it would be re-evaluated for every lane
    # (lambdas get no common-subexpression elimination), O(d^2) per
    # vector, and a separate projection is inlined back by CollapseProject
    vec, norm = f"`{vec_col}`", _norm_sql(vec_col)
    safe = (
        f"CASE WHEN {norm} = 0.0D AND size({vec}) > 0 THEN CAST(raise_error("
        "format_string('quantize_int8: zero-norm vector (id %s) — cosine is "
        f"undefined; filter or fix upstream', CAST(`{id_col}` AS STRING))) "
        f"AS DOUBLE) ELSE {norm} END"
    )
    return df.select(
        F.col(id_col),
        F.expr(
            f"zip_with({vec}, array_repeat({safe}, size({vec})), (x, s) -> "
            f"CAST(floor(CAST(x AS DOUBLE) / s * {int(scale)}) AS BIGINT))"
        ).alias("qvec"),
        *[F.col(c) for c in carry],
    )


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: int = 127,
) -> DataFrame:
    """Top-k nearest corpus vectors per query under INT8-QUANTIZED
    cosine: both sides unit-normalized and floor-quantized to
    [-scale, scale] (:func:`quantize_int8`), similarity = the bigint
    dot product of the quantized vectors. The approximation error vs
    true cosine is bounded (each component off by < 1/scale), which is
    the standard scalar-quantization ANN trade: ~4x less memory and
    shuffle bandwidth than float32 brute force for a recall hit that
    scalar int8 keeps tiny — and unlike the float paths, the score is
    an INTEGER, so ranking, tie-breaks (score desc, id asc), and any
    downstream gate are exact by construction, no rounding device.

    Output: (query_id, vec_id, score, rank), rank 1..k.

    Scale: queries broadcast x corpus streams (no corpus shuffle); the
    per-query top-k is a window over Q*N bigint score rows. For large
    Q compose with the heap device (cosine_topk_bruteforce_heap's
    per-partition cut applies unchanged to integer scores); for large
    N, quantization composes with the IVF/LSH bucketing paths — this
    operator IS the compressed scoring kernel those would call."""
    q = quantize_int8(queries, vec_col, query_id_col, scale).select(
        F.col(query_id_col), F.col("qvec").alias("__qq")
    )
    c = quantize_int8(corpus, vec_col, id_col, scale).select(
        F.col(id_col), F.col("qvec").alias("__qc")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        query_id_col,
        id_col,
        F.aggregate(
            F.zip_with(
                "__qq", "__qc", lambda a, b: a * b
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def mine_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
    scale: int = 127,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    query, the ``k`` most-similar corpus vectors whose ``label_col``
    DIFFERS from the query's (same-label rows are positives and are
    excluded, as is the query row itself when ids collide). This is the
    retrieval step of every dense-retriever / CLIP-style training
    pipeline — the negatives that sit closest to the decision boundary
    are the ones worth training on.

    Scoring is int8-quantized cosine (:func:`quantize_int8`), so scores
    are INTEGERS: ranking, tie-breaks (score desc, id asc), and the
    oracle gate are exact by construction — no rounding device.

    Output: (query_id, neg_id, label, score, rank), rank 1..k; ``label``
    keeps the corpus column's own type (labels are compared raw — both
    sides untouched — so string/categorical labels rank correctly).

    Scale: queries (with labels) broadcast; the corpus streams through
    one codegen'd dot-product map — no corpus shuffle, no UDF. The
    per-query top-k window is Q*N rows of bigints; for large Q the heap
    device (cosine_topk_bruteforce_heap) applies unchanged, and for
    large N the IVF/LSH bucketing paths compose exactly as they do for
    the plain int8 scorer."""
    q = quantize_int8(
        queries.select(query_id_col, vec_col), vec_col, query_id_col, scale
    ).join(
        queries.select(query_id_col, F.col(label_col).alias("__qlab")),
        query_id_col,
    )
    # Labels are compared RAW on both sides — a one-sided cast (e.g.
    # corpus to bigint, query untouched) would NULL out string/categorical
    # corpus labels and the null-safe inequality below would then admit
    # same-label positives as "negatives", silently corrupting the
    # contrastive training set. Any equality-comparable label type works.
    c = quantize_int8(
        corpus.select(id_col, vec_col), vec_col, id_col, scale
    ).join(
        corpus.select(id_col, F.col(label_col).alias("label")),
        id_col,
    )
    scored = (
        F.broadcast(
            q.select(query_id_col, F.col("qvec").alias("__qq"), "__qlab")
        )
        .crossJoin(
            c.select(F.col(id_col).alias("neg_id"), F.col("qvec").alias("__qc"), "label")
        )
        # null-SAFE inequality: a NULL-label (unlabeled) corpus row is a
        # valid negative for every labeled query — a bare != would make
        # the predicate NULL and silently drop it from every result (the
        # r10-r12 null-key defect class); two NULL labels count as the
        # same class (excluded).
        .filter(~F.col("label").eqNullSafe(F.col("__qlab")))
        .select(
            query_id_col,
            "neg_id",
            "label",
            F.aggregate(
                F.zip_with("__qq", "__qc", lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "neg_id",
            "label",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def pq_codebook_first_k(
    corpus: DataFrame,
    m: int = 8,
    codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
) -> DataFrame:
    """A DETERMINISTIC product-quantization codebook: the int8-quantized
    subvectors of the ``codewords`` smallest-id corpus vectors. Real
    deployments train per-subspace k-means (the kmeans family q57/q60/
    q63 is the certified trainer); the first-k-by-id rule makes the
    codebook itself oracle-recomputable, so q116 certifies the ENCODE +
    ADC plumbing end to end with no float seed sensitivity.

    Output: (sub, code, cw) — subspace 0..m-1, codeword id 0..K-1, and
    the bigint codeword subvector. m*K rows: broadcast material."""
    q = quantize_int8(corpus.select(id_col, vec_col), vec_col, id_col, scale)
    # TakeOrderedAndProject (per-partition top-K, merged on the driver) —
    # never a global sort; the K-row window below runs on K rows only.
    first_ids = corpus.select(id_col).orderBy(F.col(id_col).asc()).limit(codewords)
    w = Window.orderBy(F.col(id_col).asc())
    codes = first_ids.select(
        F.col(id_col), (F.row_number().over(w) - 1).cast("bigint").alias("code")
    )
    first = q.join(F.broadcast(codes), id_col).select("code", "qvec")
    d_over_m = F.floor(F.size("qvec") / F.lit(m)).cast("int")
    subs = first.select(
        "code",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("bigint").alias("sub"),
                    F.slice(
                        "qvec", s * d_over_m + 1, d_over_m
                    ).alias("cw"),
                ),
            )
        ).alias("__e"),
    )
    return subs.select(F.col("__e.sub").alias("sub"), "code", F.col("__e.cw").alias("cw"))


def _subspaces(
    q: DataFrame, m: int, id_col: str, vec_field: str = "qvec",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sub, sv): the m contiguous subvector slices of an integer
    vector frame — the one subspace-explode expression shared by the
    codebook trainer, the corpus encoder, and the query-LUT builders
    (and by the raw and residual PQ families alike). ``carry`` names
    extra ``q`` columns replicated unchanged onto every exploded row
    (the encoder's bucket ride-through, r16 optimization round)."""
    from candia_spark.operators.clustering import _check_carry

    _check_carry(carry, {id_col, vec_field, "sub", "sv", "__e"}, "_subspaces")
    d_over_m = f"CAST(floor(size(`{vec_field}`) / {int(m)}) AS INT)"
    return q.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.expr(
            f"explode(transform(sequence(0, {int(m) - 1}), s -> named_struct("
            f"'sub', CAST(s AS BIGINT), 'sv', "
            f"slice(`{vec_field}`, s * {d_over_m} + 1, {d_over_m}))))"
        ).alias("__e"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.col("__e.sub").alias("sub"),
        F.col("__e.sv").alias("sv"),
    )


def pq_codebook_kmeans(
    corpus: DataFrame,
    m: int = 8,
    codewords: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
    materialize: bool = True,
) -> DataFrame:
    """The REAL PQ codebook trainer: per-subspace Lloyd's k-means over
    the int8-quantized subvectors — the production replacement for the
    :func:`pq_codebook_first_k` stub (which exists so q116 can certify
    the encode/ADC plumbing in isolation). m independent k-means run in
    ONE plan: subvector rows carry their ``sub`` key, every centroid of
    every subspace rides one broadcast array, and assignment filters the
    array to the row's own subspace — no per-subspace jobs, no driver
    loop over subspaces.

    Determinism is the q57-certified clustering doctrine applied per
    subspace: min-id seeding (codeword j of EVERY subspace seeds from
    the j-th smallest-id vector), integer-exact distances via the
    (sum, count) centroid form — d = SUM((n*v - s)^2) compared as
    d/n^2 — with decimal(38,0) accumulation, argmin ties to the
    smallest code, re-centering a (sub, code, pos) partial-aggregated
    shuffle whose volume is O(partitions x m x K x d/m), independent of
    corpus size. A codeword whose membership empties simply drops out
    (the recenter join semantics, same as the flat family).

    The returned codeword lanes are INTEGER: round-half-up of the mean
    via the pure floor device ``floor((2s + n) / (2n))`` (exact in
    double for |s| <= 127*n up to n ~ 2^45, far past any corpus), so
    the downstream :func:`pq_encode` / :func:`pq_topk_adc` /
    :func:`pq_topk_ivf` distances stay bigint-exact and the whole
    train -> encode -> search chain is oracle-recomputable (q122).

    Output: (sub, code, cw array<bigint>) — broadcast material,
    drop-in for the ``codebook`` parameter of the PQ family."""
    q = quantize_int8(corpus.select(id_col, vec_col), vec_col, id_col, scale)
    return _pq_codebook_kmeans_q(q, m, codewords, iters, id_col, materialize)


def _pq_codebook_kmeans_q(
    q: DataFrame,
    m: int,
    codewords: int,
    iters: int,
    id_col: str,
    materialize: bool = True,
) -> DataFrame:
    """The per-subspace Lloyd's trainer over a PRE-QUANTIZED integer
    vector frame (id, qvec array<bigint>) — the shared core of
    :func:`pq_codebook_kmeans` (raw int8 lanes) and the residual-encoded
    IVFADC build (:func:`pq_topk_ivfadc_residual` trains the codebook on
    bigint residual lanes, Jégou et al. 2011 §III)."""
    if m <= 0 or codewords <= 0 or iters <= 0:
        raise ValueError(
            f"m, codewords, iters must be positive, got {m}/{codewords}/{iters}"
        )
    from candia_spark.operators.clustering import _argmin_keys
    from candia_spark.operators.materialize import cut

    subs = _subspaces(
        q.select(F.col(id_col).alias("__vid"), "qvec"), m, "__vid"
    )
    # the static bigint gate for the distance branch (the clustering
    # _static_int_safe doctrine): worst per-term |n*v - s| <=
    # 2 * n_vectors * lane_max, dim/m squares of it must clear 2^63 —
    # exact Python ints. The stats ride the subvector table's own cut
    # (zero extra jobs), which also caps the re-derivation of the
    # quantize+explode: the iters assignment passes and recenters read
    # stored integer rows. The lazy materialize=False path keeps the
    # always-correct decimal form.
    int_sum = False
    if materialize:
        subs, got = cut(
            subs,
            F.count(F.lit(1)).alias("n_rows"),
            F.max(
                F.array_max(F.transform("sv", lambda v: F.abs(v)))
            ).alias("vmax"),
            F.max(F.size("sv")).alias("dsub"),
        )
        # n_rows counts SUBVECTOR rows (= m * vectors) — a conservative
        # upper bound on any codeword's membership
        t = 2 * int(got["n_rows"] or 0) * int(got["vmax"] or 0)
        int_sum = max(int(got["dsub"] or 1), 1) * t * t < 2**63
    # seeds: codeword j (every subspace) = subvector of the j-th
    # smallest-id vector. orderBy+limit is TakeOrderedAndProject; the
    # rank window below runs on the K-row frame only.
    first_ids = q.select(F.col(id_col)).orderBy(F.col(id_col).asc()).limit(
        codewords
    )
    codes = first_ids.select(
        F.col(id_col).alias("__vid"),
        (F.row_number().over(Window.orderBy(F.col(id_col).asc())) - 1)
        .cast("bigint")
        .alias("code"),
    )
    cent = subs.join(F.broadcast(codes), "__vid").select(
        "sub", "code", F.col("sv").alias("csum"),
        F.lit(1).cast("bigint").alias("n"),
    )
    # the per-row argmin over the row's own subspace, in the q57
    # decimal-exact distance form shared with the flat k-means (per-term
    # bigint is exact: |v| <= 127 bounds n*v - s by 255n; the sum runs in
    # decimal(38,0), or in bigint when the static bound above proved no
    # term or partial sum can reach 2^63). Built once: only the broadcast
    # row under "cs" changes per pass.
    keyed = _argmin_keys(
        "code", int_sum, arr="filter(cs, c -> c.sub = sub)", vec="sv",
        sums="csum",
    )
    best = F.expr(f"array_min({keyed}).code").alias("code")
    for _ in range(iters):
        # all m*K centroids in ONE broadcast row; assignment is a map
        carr = cent.agg(
            F.collect_list(F.struct("sub", "code", "csum", "n")).alias("cs")
        )
        joined = subs.crossJoin(F.broadcast(carr))
        assign = joined.select("__vid", "sub", "sv", best)
        long_form = assign.select(
            "sub", "code", F.posexplode("sv").alias("pos", "v")
        )
        sums = long_form.groupBy("sub", "code", "pos").agg(
            F.sum("v").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        cent = sums.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda t: t["s"],
            ).alias("csum"),
            F.max("n").alias("n"),
        )
        if materialize:
            # m*K x d/m integers — checkpointing is free and caps the
            # loop at one subs pass per iteration
            cent, _ = cut(cent)
    return cent.select(
        "sub",
        "code",
        F.transform(
            "csum",
            # round-half-up mean, pure floor device — integer output so
            # downstream ADC distances stay bigint-exact; the double
            # division is exact (numerator <= 255n + n < 2^53 and the
            # true quotient sits >= 1/(2n) from any integer)
            lambda s: F.floor(
                (2 * s + F.col("n")).cast("double")
                / (2 * F.col("n")).cast("double")
            ).cast("bigint"),
        ).alias("cw"),
    )


def _l2_int(a: str, b: str):
    """Squared L2 distance of integer array columns ``a`` and ``b``, in
    bigint."""
    return F.expr(
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
) -> DataFrame:
    """PQ-encode a corpus against a codebook: each vector becomes m
    small integers (nearest codeword per subspace by integer L2 over the
    int8 lanes; ties -> smallest code). 64-dim float32 -> m bytes is the
    PQ memory story (16x here, 64x at production bit widths).

    Output: (id, sub, code). Scale: corpus explodes to N*m subvector
    rows, joins the BROADCAST codebook (m*K rows), and argmins per
    (id, sub) via one min(struct) agg — map-side combinable, one keyed
    shuffle of N*m integer rows, no UDF."""
    q = quantize_int8(corpus.select(id_col, vec_col), vec_col, id_col, scale)
    return _pq_encode_q(q, codebook, m, id_col)


def _pq_encode_q(
    q: DataFrame, codebook: DataFrame, m: int, id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """PQ-encode a PRE-QUANTIZED integer vector frame (id, qvec) — the
    shared core of :func:`pq_encode` (raw int8 lanes) and the residual
    encode pass of :func:`pq_topk_ivfadc_residual`.

    ``carry`` names extra ``q`` columns (each functionally dependent on
    the id — the cell assignment) that ride the subspace explode and
    the argmin group key and come back on every output row, in place of
    the id-keyed re-join of the encoded rows the callers used to run —
    that join was a corpus-sized exchange pair (N*m code rows + N
    assignment rows) re-attaching a value the explode input already
    held (r16 optimization round, guide §2.4). Grouping by (id, carry,
    sub) groups exactly as (id, sub): carry adds no key entropy, only
    ~8 bytes of exchange-row width."""
    from candia_spark.operators.clustering import _check_carry

    _check_carry(
        carry, {id_col, "qvec", "sub", "sv", "code", "cw", "__dc", "__best"},
        "_pq_encode_q",
    )
    subs = _subspaces(q, m, id_col, carry=carry)
    scored = subs.join(F.broadcast(codebook), "sub").select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        "sub",
        F.struct(
            _l2_int("sv", "cw").alias("d"),
            F.col("code").alias("code"),
        ).alias("__dc"),
    )
    enc = scored.groupBy(id_col, *carry, "sub").agg(
        F.min("__dc").alias("__best")
    )
    return enc.select(
        F.col(id_col),
        "sub",
        F.col("__best.code").cast("bigint").alias("code"),
        *[F.col(c) for c in carry],
    )


def pq_topk_adc(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: int = 127,
    codebook: DataFrame | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization top-k with Asymmetric Distance Computation:
    the corpus is PQ-encoded (m small codes per vector); each query
    precomputes a lookup table of integer L2 distances to every codeword
    per subspace (Q*m*K rows — broadcast material); a candidate's
    distance is the SUM of m table lookups, never a full-vector op. This
    is the IVFADC scoring kernel (Jégou et al. 2011) — the standard
    billion-vector ANN compression — on int8 lanes so every distance is
    a bigint and the whole chain is hash-exact with no rounding device.

    Output: (query_id, vec_id, dist, rank), rank 1..k by (dist asc,
    id asc).

    Scale: encode = one keyed shuffle of N*m integer rows; scoring =
    corpus codes JOIN broadcast LUT (no shuffle of the corpus), then one
    map-side-combinable sum per (query, vec). The corpus's float
    payload is read ONCE at encode time; search touches only the m-byte
    codes — that is the point of PQ at 100 TB. Pass ``codebook`` and
    ``encoded`` (from :func:`pq_codebook_first_k` / :func:`pq_encode`,
    typically persisted) to search a pre-encoded corpus without paying
    the encode pass again — the production call shape: encode once,
    search every query batch."""
    cb = (
        codebook
        if codebook is not None
        else pq_codebook_first_k(corpus, m, codewords, vec_col, id_col, scale)
    )
    enc = (
        encoded
        if encoded is not None
        else pq_encode(corpus, cb, m, vec_col, id_col, scale)
    )
    qz = quantize_int8(
        queries.select(query_id_col, vec_col), vec_col, query_id_col, scale
    )
    qsubs = _subspaces(qz, m, query_id_col)
    lut = qsubs.join(F.broadcast(cb), "sub").select(
        query_id_col,
        "sub",
        "code",
        _l2_int("sv", "cw").alias("__d"),
    )
    scored = enc.join(F.broadcast(lut), ["sub", "code"]).groupBy(
        query_id_col, id_col
    ).agg(F.sum("__d").cast("bigint").alias("dist"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "dist",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def jl_sign(salt: str, i: int, j: int) -> int:
    """The {+1,-1} sign for input lane ``i`` -> output lane ``j``: parity
    of the first md5 hex nibble of 'salt:i:j'. hashlib md5 here equals
    SQL md5 in both engines, so the SAME matrix is recomputable by the
    oracle from the same strings — the sign matrix needs no shipping."""
    import hashlib

    return 1 if int(
        hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[0], 16
    ) % 2 == 0 else -1


def jl_project_int8(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
    salt: str = "jl",
    output: str = "array",
    engine: str = "hof",
) -> DataFrame:
    """Signed-sum Johnson-Lindenstrauss projection over int8 lanes:
    ``out[j] = sum_i s(i,j) * q_i`` with a deterministic Rademacher
    (+1/-1) matrix derived from md5 parity (:func:`jl_sign`). The JL
    lemma's database form (Achlioptas 2003: +-1 entries suffice) — the
    dimension-reduction pre-stage that feeds LSH bucketing, k-means, or
    PQ at 4x fewer lanes, and distance ordering is approximately
    preserved with error O(1/sqrt(out_dim)).

    Everything is integer: inputs are the int8-quantized lanes
    (:func:`quantize_int8`), the matrix is +-1, so outputs are exact
    bigints — gates, ranks, and downstream composition need no rounding
    device. Two engines, a compile-vs-execute trade (both pure maps,
    zero exchanges/joins): ``engine='hof'`` (default) builds each lane
    as an aggregate-over-zip — interpreted per row but near-zero plan
    compile, the right shape for one-shot/small-batch plans;
    ``engine='flat'`` unrolls out_dim*in_dim +-element_at terms into
    whole-stage codegen — a few µs/vec at execution but ~2-3 s of
    Janino compile per fresh plan; marginal cost 29 vs 38 us/vec,
    so the crossover sits near ~250k vectors per compiled plan
    (SCALING_r13 jl leg measures both sides).

    ``output='array'``: (id, proj array<bigint> of length out_dim).
    ``output='long'``: (id, dim, value) — one row per lane, emitted
    via ``stack`` so each lane expression evaluates exactly once per
    input row (never posexplode over the array form: the Project
    collapses into the Generate and multiplies the whole projection by
    out_dim)."""
    if in_dim <= 0 or out_dim <= 0:
        raise ValueError(
            f"dims must be positive, got in={in_dim} out={out_dim}"
        )
    if output not in ("array", "long"):
        raise ValueError(f"output must be 'array' or 'long', got {output!r}")
    if engine not in ("hof", "flat"):
        raise ValueError(f"engine must be 'hof' or 'flat', got {engine!r}")
    q = quantize_int8(df.select(id_col, vec_col), vec_col, id_col, scale)
    rows = []
    if engine == "flat":
        # out_dim*in_dim-term flat arithmetic: whole-stage-codegen'd, a
        # few µs/vec at execution — but Janino pays ~2-3 s compiling the
        # big expression per fresh plan. The per-row winner at >=50k
        # vectors per plan compile (SCALING_r13 jl leg).
        lanes = [F.element_at("qvec", i + 1) for i in range(in_dim)]
        for j in range(out_dim):
            acc = None
            for i in range(in_dim):
                term = lanes[i] if jl_sign(salt, i, j) > 0 else (-lanes[i])
                acc = term if acc is None else acc + term
            rows.append(acc.cast("bigint"))
    else:
        # compact aggregate-over-zip form: interpreted (HOFs sit outside
        # codegen) so slower per row, but near-zero compile — the winner
        # for small-batch/one-shot plans (the driver/bench shape).
        for j in range(out_dim):
            signs = F.array(
                *[F.lit(jl_sign(salt, i, j)) for i in range(in_dim)]
            )
            rows.append(
                F.aggregate(
                    F.zip_with("qvec", signs, lambda a, b: a * b),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                )
            )
    arr = q.select(F.col(id_col), F.array(*rows).alias("proj"))
    if output == "array":
        return arr
    # long form: cut the array FIRST, then explode. Without the barrier
    # the optimizer collapses the projection into the Generate, which
    # does no common-subexpression elimination — the quantize transform
    # and all 16 lanes re-evaluate per OUTPUT row (measured 18 s vs 4 s at
    # sf0.1). The checkpoint is id + out_dim bigints per row — the
    # projection OUTPUT, 4x smaller than the input vectors.
    from candia_spark.operators.materialize import cut

    return cut(arr)[0].select(
        id_col, F.posexplode("proj").alias("dim", "value")
    ).select(
        id_col,
        F.col("dim").cast("bigint").alias("dim"),
        F.col("value").cast("bigint").alias("value"),
    )


def pq_topk_ivf_trained(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    codewords: int = 16,
    nprobe: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    coarse_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: int = 127,
    codebook: DataFrame | None = None,
    encoded_cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
    broadcast_lut: bool = True,
) -> DataFrame:
    """The FULLY-TRAINED IVFADC index — zero pinned constants: the
    coarse quantizer is Lloyd's k-means over the corpus — ONE training
    run (:func:`candia_spark.operators.clustering.kmeans_centroids`),
    whose table both the cell assignment
    (:func:`~candia_spark.operators.clustering.kmeans_probe_cells` at
    nprobe=1, exactly the final assignment pass) and the query probes
    rank against under the same decimal-exact total
    order — and the fine quantizer is the per-subspace k-means
    codebook (:func:`pq_codebook_kmeans`). :func:`pq_topk_ivf` with
    its pinned offline centroids and first-k codebook remains the
    plumbing-isolation twin; this is the production call shape.

    Every stage stays integer-derived (coarse distances decimal-exact,
    ADC distances bigint), so the whole train -> assign -> encode ->
    probe -> search chain is oracle-recomputable end to end (q124).

    Output: (query_id, vec_id, dist, rank), rank 1..k (dist asc,
    id asc) over the probed cells only.

    Scale: coarse train is one broadcast-centroid map pass + an
    O(k x dim) recenter per iteration; PQ train the same per subspace;
    encode one keyed shuffle of N*m integer rows; search touches only
    the m-byte codes of the probed ~nprobe/coarse_k corpus fraction.
    Pass ``codebook`` / ``centroids`` / ``encoded_cells`` (persisted
    from a prior run; encoded_cells = pq_encode output joined with its
    cell column ``bucket``) to search without re-training or
    re-encoding — encode once, search every batch. A piece stamped as
    RESIDUAL-encoded (an ivfadc_build_index artifact) raises here: this
    is the RAW-vector ADC path, and scoring residual codes against raw
    query lanes would silently mis-rank everything."""
    from candia_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_probe_cells,
        kmeans_train_assign,
    )
    from candia_spark.operators.materialize import cut

    if centroids is not None:
        _assert_index_geometry(
            centroids, "sv", {"coarse_scale": coarse_scale}, "centroids"
        )
    for piece, field, name in (
        (codebook, "cw", "codebook"),
        (encoded_cells, "code", "encoded_cells"),
    ):
        if piece is not None:
            _assert_index_geometry(
                piece, field,
                {"residual": 0, "m": m, "codewords": codewords,
                 "scale": scale},
                name,
            )
    cells = None
    if centroids is not None:
        cent = centroids
    elif encoded_cells is None:
        # in-build training where cells are ALSO needed: ONE Lloyd's
        # run yields the trained table and the final-pass assignment
        # against it — the nprobe=1 probe re-assignment this path used
        # to run was a second full corpus quantize + argmin pass
        # computing bit-identical output (r16 optimization round,
        # guide §1.2/§2.4). Cell/probe consistency (ADVICE r14) holds
        # by construction: the final pass ranks against the returned
        # table.
        cent, cells = kmeans_train_assign(
            corpus, k=coarse_k, iters=coarse_iters, scale=coarse_scale,
            vec_col=vec_col, id_col=id_col,
        )
        cells = cells.select(id_col, F.col("cluster").alias("bucket"))
    else:
        cent, _ = cut(
            # materialize: the trained table feeds the query probes
            # below — one training run, read as stored k-row material
            kmeans_centroids(
                corpus, k=coarse_k, iters=coarse_iters, scale=coarse_scale,
                vec_col=vec_col, id_col=id_col,
            )
        )
    if codebook is not None or encoded_cells is not None:
        cb = (
            codebook
            if codebook is not None
            else pq_codebook_kmeans(
                corpus, m=m, codewords=codewords, iters=pq_iters,
                vec_col=vec_col, id_col=id_col, scale=scale,
            )
        )
    else:
        # trainer AND encoder both read int8 lanes: quantize the corpus
        # ONCE and feed the shared frame to the *_q cores — the wrapper
        # pair re-derived the identical quantize transform from two
        # separate corpus scans (r16 optimization round, guide §1.2)
        qz_corpus, _ = cut(
            quantize_int8(
                corpus.select(id_col, vec_col), vec_col, id_col, scale
            )
        )
        cb = _pq_codebook_kmeans_q(qz_corpus, m, codewords, pq_iters, id_col)
    if encoded_cells is not None:
        enc = encoded_cells
    else:
        if cells is None:
            # frozen passed-in centroids: derive cells via the probe
            # pass (the only option without re-training; identical
            # total order, ADVICE r14)
            cells = kmeans_probe_cells(
                corpus.select(id_col, vec_col), cent, nprobe=1,
                scale=coarse_scale, vec_col=vec_col, id_col=id_col,
            ).select(id_col, F.col("cluster").alias("bucket"))
        enc_codes = (
            _pq_encode_q(qz_corpus, cb, m, id_col)
            if codebook is None
            else pq_encode(corpus, cb, m, vec_col, id_col, scale)
        )
        enc = enc_codes.join(cells, id_col)
    probes = kmeans_probe_cells(
        queries.select(query_id_col, vec_col), cent, nprobe=nprobe,
        scale=coarse_scale, vec_col=vec_col, id_col=query_id_col,
    ).select(query_id_col, F.col("cluster").alias("bucket"))
    qz = quantize_int8(
        queries.select(query_id_col, vec_col), vec_col, query_id_col, scale
    )
    qsubs = _subspaces(qz, m, query_id_col)
    lut = qsubs.join(F.broadcast(cb), "sub").select(
        query_id_col, "sub", "code",
        _l2_int("sv", "cw").alias("__d"),
    )
    lutp = probes.join(lut, query_id_col).select(
        query_id_col, "bucket", "sub", "code", "__d"
    )
    scored = enc.join(
        _lut_side(lutp, broadcast_lut), ["bucket", "sub", "code"]
    ).groupBy(query_id_col, id_col).agg(
        F.sum("__d").cast("bigint").alias("dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "dist",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def pq_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: "np.ndarray",
    k: int = 5,
    m: int = 8,
    codewords: int = 16,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: int = 127,
    codebook: DataFrame | None = None,
    encoded_cells: DataFrame | None = None,
    broadcast_lut: bool = True,
) -> DataFrame:
    """IVF + PQ composed — the full IVFADC index (Jégou et al. 2011):
    corpus vectors live in their nearest-centroid cell (the q38 pinned
    coarse index) AND are PQ-encoded to m codes; each query probes its
    ``nprobe`` closest cells and ADC-scores ONLY the codes inside them.
    Candidates per query drop ~(nprobe/n_cells)-fold vs flat PQ, and
    search still never touches the float payload — this is the
    billion-vector layout: coarse cells for pruning, codes for scoring.

    Cell assignment reuses :func:`ivf_bucket` (first-max tie-break) and
    probing the q38 reverse-sorted device (score DESC, cid DESC), both
    already oracle-certified; distances are the integer ADC sums of
    :func:`pq_topk_adc`, so ranks and ties gate exactly.

    Output: (query_id, vec_id, dist, rank), rank 1..k (dist asc, id
    asc).

    Scale: the coarse index is n_cells literal vectors in the plan; the
    cell rides the encode's group key from one quantize+route corpus
    scan (no codes ⋈ cells attach join — r16 optimization round); the
    probe-restricted LUT
    (Q*nprobe*m*K bigint rows) broadcasts; nothing corpus-sized
    shuffles after encode. Pass ``codebook`` and ``encoded_cells``
    (codes already joined with their cell: id, sub, code, bucket —
    typically persisted) to search without re-running assignment or
    encode — the production call shape."""
    cb = (
        codebook
        if codebook is not None
        else pq_codebook_first_k(corpus, m, codewords, vec_col, id_col, scale)
    )
    if encoded_cells is not None:
        enc = encoded_cells
    else:
        # the cell is a pure map (argmax against literal centroids), so
        # ONE corpus scan computes (id, qvec, bucket) and the encoder
        # carries `bucket` through its group key — the previous shape
        # ran a second corpus scan for the cells and re-attached them
        # to the encoded rows with an id-keyed join of two corpus-sized
        # frames (r16 optimization round, guide §2.4)
        qb = ivf_bucket(corpus.select(id_col, vec_col), centroids, vec_col)
        enc = _pq_encode_q(
            quantize_int8(qb, vec_col, id_col, scale, carry=("bucket",)),
            cb, m, id_col, carry=("bucket",),
        )
    qscores = _centroid_scores(vec_col, centroids)
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    qscores,
                    lambda s, i: F.struct(s.alias("s"), (i + 1).alias("c")),
                )
            )
        ),
        1,
        nprobe,
    )
    probes = queries.select(
        F.col(query_id_col),
        F.explode(
            F.transform(ranked, lambda e: e["c"].cast("int"))
        ).alias("bucket"),
    )
    qz = quantize_int8(
        queries.select(query_id_col, vec_col), vec_col, query_id_col, scale
    )
    qsubs = _subspaces(qz, m, query_id_col)
    lut = qsubs.join(F.broadcast(cb), "sub").select(
        query_id_col, "sub", "code", _l2_int("sv", "cw").alias("__d")
    )
    lutp = probes.join(lut, query_id_col).select(
        query_id_col, "bucket", "sub", "code", "__d"
    )
    scored = enc.join(
        _lut_side(lutp, broadcast_lut), ["bucket", "sub", "code"]
    ).groupBy(query_id_col, id_col).agg(
        F.sum("__d").cast("bigint").alias("dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "dist",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _lut_side(lut: DataFrame, broadcast_lut: bool) -> DataFrame:
    """The ADC lookup table's join side. Force-broadcast by default —
    the LUT is Q*nprobe*m*K bigint rows (~50 bytes each), far under any
    broadcast limit for interactive query batches: at the family
    defaults (m=8, K=16, nprobe=3) that is 384 rows per query, so even
    10^4 queries broadcast ~4M rows (~200 MB). Past ~10^7 LUT rows
    (~25k queries at defaults — a BATCH scoring job, not a search) a
    forced broadcast risks the driver/broadcast memory ceiling
    (ADVICE r15): pass ``broadcast_lut=False`` and the join plans as a
    regular keyed join — AQE still picks a broadcast when the LUT
    measures small, so the flag is safe to set defensively."""
    return F.broadcast(lut) if broadcast_lut else lut


def cell_centroids_int8(
    q: DataFrame, cells: DataFrame | None, id_col: str = "vec_id"
) -> DataFrame:
    """Integer centroids of the coarse cells IN THE PQ LANE SPACE:
    per-position round-half-up mean of the int8-quantized members of
    each cell, via the same pure floor device as the PQ trainer
    (``floor((2s + n) / (2n))`` — exact in double for |s| <= 127*n up
    to n ~ 2^45). This is the piece residual encoding needs (Jégou et
    al. 2011 §III): the coarse quantizer trains at its own scale
    (decimal-exact d/n^2 ranking), but the residual x - q1(x) must be
    an INTEGER in the same lane space as x, so the reproduction value
    is re-derived from the quantized lanes of the cell's members.

    Input: ``q`` = (id, qvec array<bigint>) from :func:`quantize_int8`;
    ``cells`` = (id, bucket), or ``None`` when ``q`` already carries its
    ``bucket`` column (the build's one-join frame, r16 optimization
    round). Output: (bucket, cvec array<bigint>) — coarse_k rows,
    broadcast material.

    Scale: one id-keyed join of the two corpus-sized thin frames (the
    O(N) exchange of this operator — co-partitioned under AQE when the
    caller materialized both on id; skipped entirely on the pre-joined
    form), then one (bucket, pos) partial-aggregated shuffle whose
    exchanged volume is O(partitions x k x dim), independent of corpus
    size; the collect_list runs on k x dim rows."""
    # Misuse fails fast (ADVICE r16): a pre-joined q passed TOGETHER with
    # a cells frame would produce a duplicate/ambiguous `bucket` after the
    # id join and fail obscurely downstream; a cells=None call without a
    # bucket column has nothing to aggregate by.
    if cells is not None and "bucket" in q.columns:
        raise ValueError(
            "cell_centroids_int8: q already carries a 'bucket' column — "
            "pass cells=None for the pre-joined form, or drop the column"
        )
    if cells is None and "bucket" not in q.columns:
        raise ValueError(
            "cell_centroids_int8: cells=None requires q to carry the "
            "'bucket' column (the pre-joined (id, qvec, bucket) form)"
        )
    lanes = (q if cells is None else q.join(cells, id_col)).select(
        "bucket", F.posexplode("qvec").alias("pos", "v")
    )
    sums = lanes.groupBy("bucket", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_pos = sums.select(
        "bucket",
        "pos",
        F.floor(
            (2 * F.col("s") + F.col("n")).cast("double")
            / (2 * F.col("n")).cast("double")
        ).cast("bigint").alias("c"),
    )
    return per_pos.groupBy("bucket").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda t: t["c"],
        ).alias("cvec")
    )


def _check_cell_balance(cells: DataFrame, max_cell_frac: float) -> None:
    """Loud guard on coarse-cell skew (VERDICT r14 missing #5): trained
    cells are uneven by construction, and on a skewed corpus one hot
    cell makes every probe that touches it scan a large corpus
    fraction — the exact failure IVF pruning exists to prevent. One
    k-row aggregate over the assignment output; raises with the
    measured imbalance instead of silently building a degenerate
    index. Remedies, in order: raise coarse_k (smaller cells), train
    on a debiased sample, or split hot cells hierarchically
    (operators.clustering.kmeans_hierarchical) before encoding."""
    row = (
        cells.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.max("__n").alias("mx"),
            F.sum("__n").alias("tot"),
            F.max_by("bucket", "__n").alias("hot"),
        )
        .collect()[0]
    )
    tot = int(row["tot"] or 0)
    if tot == 0:
        return
    frac = int(row["mx"]) / tot
    if frac > max_cell_frac:
        raise ValueError(
            f"IVF cell balance violated: cell {row['hot']} holds "
            f"{int(row['mx'])}/{tot} vectors ({frac:.3f} of the corpus; "
            f"max_cell_frac={max_cell_frac}). Every probe of that cell "
            "scans that whole fraction — raise coarse_k, train on a "
            "debiased sample, or split hot cells (kmeans_hierarchical) "
            "before encoding."
        )


def _stamped(df: DataFrame, field_name: str, geom: dict) -> DataFrame:
    """Stamp ``geom`` into ``field_name``'s field metadata on the IVFADC
    index pieces: Spark field metadata survives both localCheckpoint and
    the parquet round-trip, so a reloaded piece still carries the
    geometry it was built with and a mismatched search raises loudly
    instead of returning wrong distances (VERDICT r15 missing #6)."""
    return df.select(
        *[
            F.col(f.name).alias(
                f.name, metadata={**(f.metadata or {}), **geom}
            )
            if f.name == field_name
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def _assert_index_geometry(
    df: DataFrame, field_name: str, expect: dict, piece: str
) -> None:
    """Fail fast when a persisted index piece was built with a different
    geometry than the current call: every ADC distance is a pure
    function of (m, codewords, scale, coarse_scale, residual-vs-raw),
    so a mismatch silently mis-ranks every query. Pieces from other
    producers (no stamp) pass unchecked — best-effort on provenance,
    strict on detected mismatch."""
    for f in df.schema.fields:
        if f.name != field_name or not f.metadata:
            continue
        for key, want in expect.items():
            if key in f.metadata and int(f.metadata[key]) != int(want):
                raise ValueError(
                    f"ivfadc index piece {piece!r} was built with {key}="
                    f"{int(f.metadata[key])} but this call uses "
                    f"{key}={int(want)} — every distance would be computed "
                    "in a different geometry; rebuild the index or match "
                    "the parameters"
                )


def ivfadc_build_index(
    corpus: DataFrame,
    m: int = 8,
    codewords: int = 16,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    coarse_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
    centroids: DataFrame | None = None,
    cell_centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    max_cell_frac: float | None = None,
    split_hot_k: int | None = None,
) -> dict[str, DataFrame]:
    """Build (or partially rebuild) the residual-encoded IVFADC index —
    the persisted-piece producer the whole q127 family consumes. Returns
    ``{"centroids", "cell_centroids", "codebook", "encoded_cells"}``,
    each stamped with its build geometry (:func:`_stamped`) so a later
    search with different m/K/scale/coarse_scale raises loudly.

    This IS the in-build path of :func:`pq_topk_ivfadc_residual`
    factored out (one implementation — build-then-search and
    build-inside-search cannot drift), and the training base of
    :func:`ivfadc_encode_batch` (rolling ingestion: new batches encode
    under THESE frozen pieces). Pass any already-persisted piece to
    rebuild only the missing ones.

    ``max_cell_frac`` arms the loud cell-skew guard
    (:func:`_check_cell_balance`); with ``split_hot_k`` also set, a
    violating build SPLITS each hot cell hierarchically
    (:func:`split_hot_cells` — one more Lloyd's over the cell's
    members, the guard's remedy #3) and re-censuses instead of raising;
    a corpus still violating after one split raises.

    Scale: identical shape to the q127 in-build chain — coarse train is
    broadcast-centroid maps; ONE id-keyed join attaches cells to the
    quantized corpus (materialized — cell centroids, residuals and the
    encode all read it); the residual map is a broadcast join (coarse_k
    rows); the encode is one keyed shuffle of N*m integer rows carrying
    the bucket in its group key; nothing corpus-sized shuffles after
    encode."""
    from candia_spark.operators.clustering import (
        kmeans_probe_cells,
        kmeans_train_assign,
    )
    from candia_spark.operators.materialize import cut

    geom = {
        "m": m,
        "codewords": codewords,
        "scale": scale,
        "coarse_scale": coarse_scale,
        "residual": 1,
    }
    # per-piece asserts check only the geometry that piece DEPENDS on
    # (a coarse centroid table legitimately reuses across different
    # m/K rebuilds; the codebook does not)
    for piece, field, name, keys in (
        (centroids, "sv", "centroids", ("coarse_scale",)),
        (cell_centroids, "cvec", "cell_centroids",
         ("scale", "coarse_scale")),
        (codebook, "cw", "codebook",
         ("m", "codewords", "scale", "coarse_scale", "residual")),
    ):
        if piece is not None:
            _assert_index_geometry(
                piece, field, {k: geom[k] for k in keys}, name
            )
    def _assign(c: DataFrame) -> DataFrame:
        # nprobe=1 probe IS the final assignment pass against the same
        # trained table (cell/probe consistency by construction)
        return cut(
            kmeans_probe_cells(
                corpus.select(id_col, vec_col), c, nprobe=1,
                scale=coarse_scale, vec_col=vec_col, id_col=id_col,
            ).select(id_col, F.col("cluster").alias("bucket"))
        )[0]

    if centroids is not None:
        # frozen coarse quantizer: the probe pass against the passed
        # table is the only way to derive cells
        cent = centroids
        cells = _assign(cent)
    else:
        # in-build training: ONE Lloyd's run yields both the trained
        # table and the cell assignment its final pass produced — the
        # probe re-assignment this path used to run was a second full
        # corpus quantize + argmin pass computing bit-identical output
        # (r16 optimization round, guide §1.2/§2.4)
        cent, cells = kmeans_train_assign(
            corpus, k=coarse_k, iters=coarse_iters, scale=coarse_scale,
            vec_col=vec_col, id_col=id_col,
        )
        cells = cells.select(id_col, F.col("cluster").alias("bucket"))
    q = quantize_int8(corpus.select(id_col, vec_col), vec_col, id_col, scale)
    if max_cell_frac is not None:
        try:
            _check_cell_balance(cells, max_cell_frac)
        except ValueError:
            if split_hot_k is None:
                raise
            # the guard's remedy #3: one more Lloyd's over each hot
            # cell's members, then re-census WITH the guard still armed
            cent, _ = cut(
                split_hot_cells(
                    corpus, cent, max_cell_frac=max_cell_frac,
                    split_k=split_hot_k, iters=coarse_iters,
                    coarse_scale=coarse_scale, vec_col=vec_col,
                    id_col=id_col, cells=cells,
                )
            )
            cells = _assign(cent)
            _check_cell_balance(cells, max_cell_frac)
    # ONE id-keyed join attaches the cell to the quantized corpus, and
    # the joined frame is THE materialized corpus artifact of the build:
    # the cell-centroid aggregate reads it joinlessly, the residual map
    # rides it under a broadcast join (coarse_k rows), and the encoder
    # carries `bucket` through its group key — replacing the two
    # separate q ⋈ cells joins and the encode ⋈ assignment re-join this
    # path used to run, three corpus-sized exchange pairs → one
    # (r16 optimization round, guide §2.4).
    qc, _ = cut(q.join(cells, id_col))
    cc = (
        cell_centroids
        if cell_centroids is not None
        else cut(cell_centroids_int8(qc, None, id_col))[0]
    )
    # residual lanes: bigint differences in the int8 lane space — a pure
    # map over the stored qc rows (the trainer checkpoints its subvector
    # explode of this internally; the encoder streams it once), so the
    # frame itself no longer needs its own checkpoint job
    rz = qc.join(F.broadcast(cc), "bucket").select(
        F.col(id_col),
        F.col("bucket"),
        F.zip_with("qvec", "cvec", lambda x, c: x - c).alias("qvec"),
    )
    cb = (
        codebook
        if codebook is not None
        else _pq_codebook_kmeans_q(
            rz.select(id_col, "qvec"), m, codewords, pq_iters, id_col
        )
    )
    enc = _pq_encode_q(rz, cb, m, id_col, carry=("bucket",))
    return {
        "centroids": _stamped(cent, "sv", geom),
        "cell_centroids": _stamped(cc, "cvec", geom),
        "codebook": _stamped(cb, "cw", geom),
        "encoded_cells": _stamped(enc, "code", geom),
        # the int8 corpus the build already quantized (one scan,
        # materialized above inside qc) — persisting it makes the exact
        # re-rank stage (pq_topk_rerank quantized_corpus=) run from
        # stored integers too: the fully-persisted search path never
        # touches the float payload at all
        "quantized_corpus": _stamped(qc.select(id_col, "qvec"), "qvec", geom),
    }


def ivfadc_encode_batch(
    batch: DataFrame,
    centroids: DataFrame,
    cell_centroids: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    coarse_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 127,
) -> DataFrame:
    """Encode an arriving batch under a FROZEN residual IVFADC index —
    the rolling-ingestion half of the index (VERDICT r15 next #1): cells
    assign against the stored centroid table (the same nprobe=1 device
    as the build, so rolled and rebuilt assignments agree by
    construction), residuals subtract
    the stored integer cell centroids, codes come from the stored
    codebook — NO training state changes. Union the output into the
    ``encoded_cells`` a search is given and every later search sees the
    batch.

    The frozen-index contract is the paper's deployment shape (Jégou et
    al. 2011 §V: train once on a sample, encode forever) — and its
    drift cost is measurable: as the corpus drifts from the training
    sample, run :func:`candia_spark.operators.retrieval
    .ann_recall_audit` per batch against exact truth; a falling recall
    curve is the retrain signal (the SCALING_r16 drift leg).

    Output: (id, sub, code, bucket) — stamped with the index geometry.
    Equivalence ``encode(base ∪ batch) == encode(base) ∪ encode(batch)``
    and ``append == rebuild`` are pytest-pinned (the q103/q78 rolling
    stance).

    Scale: ONE map chain over a single batch scan (broadcast-centroid
    probe carrying the vector, int8 quantize carrying the cell) + one
    broadcast join (cell centroids) + one keyed shuffle of batch*m
    integer rows with the bucket riding its group key — cost tracks
    the BATCH, the corpus is never touched, and the batch is never
    shuffled through an attach join."""
    from candia_spark.operators.clustering import kmeans_probe_cells

    geom = {
        "m": m,
        "scale": scale,
        "coarse_scale": coarse_scale,
        "residual": 1,
    }
    _assert_index_geometry(
        centroids, "sv", {"coarse_scale": coarse_scale}, "centroids"
    )
    _assert_index_geometry(
        cell_centroids, "cvec",
        {"scale": scale, "coarse_scale": coarse_scale}, "cell_centroids",
    )
    _assert_index_geometry(codebook, "cw", geom, "codebook")
    # ONE scan chain: the nprobe=1 probe is a pure map (broadcast
    # centroid row) that carries the raw vector through, the int8
    # quantize maps over its output carrying the routed cell, and the
    # residual subtracts under a broadcast join — the batch is never
    # id-joined against a second scan of itself (r16 optimization
    # round, guide §2.4; the previous shape shuffled both batch-sized
    # map outputs through an id-keyed attach join)
    cq = kmeans_probe_cells(
        batch.select(id_col, vec_col), centroids, nprobe=1,
        scale=coarse_scale, vec_col=vec_col, id_col=id_col,
        carry=(vec_col,),
    ).select(id_col, F.col("cluster").alias("bucket"), vec_col)
    rz = (
        quantize_int8(cq, vec_col, id_col, scale, carry=("bucket",))
        .join(F.broadcast(cell_centroids.select("bucket", "cvec")), "bucket")
        .select(
            F.col(id_col),
            F.col("bucket"),
            F.zip_with("qvec", "cvec", lambda x, c: x - c).alias("qvec"),
        )
    )
    # the encoder carries `bucket` through its group key — no re-join
    # of the encoded rows against the assignment (r16 optimization
    # round, guide §2.4; same device as the build path)
    enc = _pq_encode_q(rz, codebook, m, id_col, carry=("bucket",))
    # the output inherits `codewords` from the codebook's own stamp when
    # present (this call never sees K — the codebook table IS the
    # codewords), so downstream search asserts see the full geometry
    out_geom = dict(geom)
    for f in codebook.schema.fields:
        if f.name == "cw" and f.metadata and "codewords" in f.metadata:
            out_geom["codewords"] = int(f.metadata["codewords"])
    return _stamped(enc, "code", out_geom)


def split_hot_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    max_cell_frac: float,
    split_k: int = 4,
    iters: int = 2,
    coarse_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cells: DataFrame | None = None,
) -> DataFrame:
    """Hierarchically split every coarse cell holding more than
    ``max_cell_frac`` of the corpus: one more Lloyd's k-means
    (``split_k`` children, the q60 two-level machinery's inner loop)
    over JUST the hot cell's members, whose sub-centroids REPLACE the
    hot row in the centroid table. Probing and assignment then rank
    against the widened table unchanged — on a balanced corpus the
    table is returned as-is, so probe semantics are untouched
    (equivalence pytest-pinned); on the planted 90 %-one-cell corpus
    the skew guard passes after one split (VERDICT r15 missing #3).

    New cluster ids are ``max_existing_id + 1 + hot_rank * split_k +
    child`` — deterministic, collision-free bigints; the parent id
    retires (its members re-assign to the children or, at the margin,
    to a neighboring survivor — assignment is always a fresh nprobe=1
    pass against the returned table, never a stale map).

    Scale: the census is a k-row aggregate; each hot cell's training
    runs on a semi-joined member subset (broadcast id spine of the hot
    assignment — cells are data-sized, but the training passes are the
    same broadcast-centroid maps as the flat build); the driver loop is
    bounded by the at-most-1/max_cell_frac hot cells."""
    from candia_spark.operators.clustering import (
        kmeans_centroids,
        kmeans_probe_cells,
    )
    from candia_spark.operators.materialize import cut

    if not 0.0 < max_cell_frac < 1.0:
        raise ValueError(
            f"max_cell_frac must be in (0, 1), got {max_cell_frac}"
        )
    if split_k < 2:
        raise ValueError(f"split_k must be >= 2, got {split_k}")
    if cells is None:
        cells, _ = cut(
            kmeans_probe_cells(
                corpus.select(id_col, vec_col), centroids, nprobe=1,
                scale=coarse_scale, vec_col=vec_col, id_col=id_col,
            ).select(id_col, F.col("cluster").alias("bucket"))
        )
    census = (
        cells.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.sum("__n").alias("tot"),
            F.collect_list(F.struct("bucket", "__n")).alias("cs"),
        )
        .collect()[0]
    )
    tot = int(census["tot"] or 0)
    if tot == 0:
        return centroids
    hot = sorted(
        int(c["bucket"])
        for c in census["cs"]
        if int(c["__n"]) / tot > max_cell_frac
    )
    if not hot:
        return centroids
    next_id = (
        int(
            centroids.agg(F.max("cluster").alias("mx")).collect()[0]["mx"]
        )
        + 1
    )
    out = centroids.filter(~F.col("cluster").isin([int(h) for h in hot]))
    for rank, h in enumerate(hot):
        members = corpus.join(
            cells.filter(F.col("bucket") == int(h)).select(id_col),
            id_col,
            "left_semi",
        )
        sub = kmeans_centroids(
            members, k=split_k, iters=iters, scale=coarse_scale,
            vec_col=vec_col, id_col=id_col,
        ).select(
            (F.col("cluster") + F.lit(next_id + rank * split_k))
            .cast("bigint")
            .alias("cluster"),
            "sv",
            "n",
        )
        out = out.unionByName(sub)
    return out


def pq_topk_ivfadc_residual(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    codewords: int = 16,
    nprobe: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    coarse_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: int = 127,
    codebook: DataFrame | None = None,
    encoded_cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
    cell_centroids: DataFrame | None = None,
    max_cell_frac: float | None = None,
    broadcast_lut: bool = True,
    split_hot_k: int | None = None,
) -> DataFrame:
    """RESIDUAL-encoded IVFADC — the full Jégou et al. 2011 §III
    construction, closing the one algorithmic gap of
    :func:`pq_topk_ivf_trained` (which PQ-encodes RAW vectors): the PQ
    codebook is trained on, and the corpus encoded as, the residual
    r(x) = x - q1(x) — what remains AFTER the coarse quantizer explains
    its part. Residual energy is a fraction of vector energy, so the
    same m x K codebook spends its codewords on a much smaller ball:
    that is why IVFADC holds recall at high compression, and the
    measured recall@k delta vs the raw-vector twin is the point of the
    operator (q127's audit leg).

    Every stage stays integer-exact end to end: the coarse quantizer is
    the q57 decimal-exact k-means (cells and probes rank against ONE
    trained table — the r14 consistency doctrine); the reproduction
    values are integer cell centroids in the int8 lane space
    (:func:`cell_centroids_int8`, round-half-up floor device); residual
    lanes are bigint differences; the per-subspace trainer, encoder,
    and ADC sums run on bigints — so the whole
    train -> assign -> residual -> train -> encode -> probe -> search
    chain is oracle-recomputable (q127).

    The ADC lookup table becomes PER PROBED CELL — the query's residual
    differs per cell, so the LUT is Q x nprobe x m x K bigint rows
    (broadcast material for interactive batches; the paper's Algorithm 2
    pays the same factor — see :func:`_lut_side` for the documented
    force-broadcast ceiling and the ``broadcast_lut=False`` fallback).

    Output: (query_id, vec_id, dist, rank), rank 1..k (dist asc,
    id asc) over the probed cells only.

    Scale: identical shape to the raw-vector twin plus one broadcast
    join (cell centroids, coarse_k rows) on each side of the encode —
    nothing corpus-sized shuffles after encode. Search COMPUTE touches
    only the probed ~nprobe/coarse_k fraction (the LUT join drops the
    rest); search SCAN BYTES still cover all codes. Pass ``centroids`` /
    ``cell_centroids`` / ``codebook`` / ``encoded_cells`` (persisted
    from a prior build; encoded_cells = (id, sub, code, bucket)) to
    search without re-training or re-encoding. ``max_cell_frac`` arms
    the loud cell-skew guard (:func:`_check_cell_balance`) — on the
    in-build assignment, or on the stored (id, bucket) assignment when
    ``encoded_cells`` is passed (the flag is never a silent no-op,
    ADVICE r15); with ``split_hot_k`` also set, an in-build violation
    SPLITS the hot cells (:func:`split_hot_cells`) instead of raising.
    On the fully-persisted path ``corpus`` may be ``None``; every
    passed piece is geometry-checked against this call's parameters
    (:func:`_assert_index_geometry`)."""
    from candia_spark.operators.clustering import kmeans_probe_cells

    if max_cell_frac is not None and encoded_cells is not None:
        # the flag must never be a silent no-op (ADVICE r15): a caller
        # arming the guard alongside persisted codes gets the same
        # census, run over the stored (id, bucket) assignment — one
        # distinct-projected k-row aggregate, no re-assignment.
        _check_cell_balance(
            encoded_cells.select(id_col, "bucket").distinct(), max_cell_frac
        )
    have_all = all(
        p is not None
        for p in (centroids, cell_centroids, codebook, encoded_cells)
    )
    if have_all:
        # pure search: no training, no encode — just geometry checks
        full = {
            "m": m, "codewords": codewords, "scale": scale,
            "coarse_scale": coarse_scale, "residual": 1,
        }
        _assert_index_geometry(
            centroids, "sv", {"coarse_scale": coarse_scale}, "centroids"
        )
        _assert_index_geometry(
            cell_centroids, "cvec",
            {"scale": scale, "coarse_scale": coarse_scale},
            "cell_centroids",
        )
        _assert_index_geometry(codebook, "cw", full, "codebook")
        _assert_index_geometry(encoded_cells, "code", full, "encoded_cells")
        cent, cc, cb, enc = centroids, cell_centroids, codebook, encoded_cells
    else:
        if corpus is None:
            raise ValueError(
                "corpus is required unless all four index pieces "
                "(centroids, cell_centroids, codebook, encoded_cells) "
                "are passed"
            )
        idx = ivfadc_build_index(
            corpus, m=m, codewords=codewords, coarse_k=coarse_k,
            coarse_iters=coarse_iters, pq_iters=pq_iters,
            coarse_scale=coarse_scale, vec_col=vec_col, id_col=id_col,
            scale=scale, centroids=centroids,
            cell_centroids=cell_centroids, codebook=codebook,
            max_cell_frac=None if encoded_cells is not None
            else max_cell_frac,
            split_hot_k=split_hot_k,
        )
        cent, cc, cb = (
            idx["centroids"], idx["cell_centroids"], idx["codebook"]
        )
        enc = (
            encoded_cells
            if encoded_cells is not None
            else idx["encoded_cells"]
        )
    # query side: probes against the SAME trained table; the query's
    # residual is PER PROBED CELL, so the subspace explode keys on the
    # (query, cell) pair
    probes = kmeans_probe_cells(
        queries.select(query_id_col, vec_col), cent, nprobe=nprobe,
        scale=coarse_scale, vec_col=vec_col, id_col=query_id_col,
    ).select(query_id_col, F.col("cluster").alias("bucket"))
    qz = quantize_int8(
        queries.select(query_id_col, vec_col), vec_col, query_id_col, scale
    )
    qres = (
        probes.join(qz, query_id_col)
        .join(F.broadcast(cc), "bucket")
        .select(
            F.struct(
                F.col(query_id_col).alias("q"), F.col("bucket").alias("b")
            ).alias("__qb"),
            F.zip_with("qvec", "cvec", lambda x, c: x - c).alias("qvec"),
        )
    )
    qsubs = _subspaces(qres, m, "__qb").select(
        F.col("__qb.q").alias(query_id_col),
        F.col("__qb.b").alias("bucket"),
        "sub",
        "sv",
    )
    lut = qsubs.join(F.broadcast(cb), "sub").select(
        query_id_col, "bucket", "sub", "code",
        _l2_int("sv", "cw").alias("__d"),
    )
    scored = enc.join(
        _lut_side(lut, broadcast_lut), ["bucket", "sub", "code"]
    ).groupBy(query_id_col, id_col).agg(
        F.sum("__d").cast("bigint").alias("dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "dist",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def pq_topk_rerank(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    m: int = 8,
    codewords: int = 16,
    nprobe: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    coarse_scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    scale: int = 127,
    codebook: DataFrame | None = None,
    encoded_cells: DataFrame | None = None,
    centroids: DataFrame | None = None,
    cell_centroids: DataFrame | None = None,
    quantized_corpus: DataFrame | None = None,
    broadcast_lut: bool = True,
) -> DataFrame:
    """IVFADC + R — the re-ranking stage of Jégou et al. 2011 §V:
    the residual-encoded index (:func:`pq_topk_ivfadc_residual`)
    produces a SHORTLIST of R candidates per query from compressed
    codes alone, then only those R rows are re-scored with the EXACT
    int8 dot product against the full quantized vectors. This is how a
    production deployment buys back the quantizer's recall loss at a
    cost proportional to Q*R full-vector reads — never a corpus scan:
    the paper's measured point is that small R recovers most of the
    gap to exact search, and :func:`candia_spark.operators.retrieval
    .ann_recall_audit` is the instrument that certifies it per corpus.

    Output: (query_id, vec_id, score, rank) — score the exact bigint
    dot (the :func:`cosine_topk_int8` convention, so the audit's truth
    side and this output rank under the SAME total order: score desc,
    id asc), rank 1..k. Integer-exact end to end: the shortlist chain
    is the q127 bigint construction and the re-rank scores are bigint
    dots, so the full composition is oracle-recomputable (q130).

    Scale: the shortlist is the q127 plan (nothing corpus-sized
    shuffles after encode); the exact re-rank reads Q*R vectors, not a
    corpus-wide quantize — the shortlist's DISTINCT candidate ids
    (list-sized) semi-join the corpus BEFORE :func:`quantize_int8`
    (VERDICT r15 missing #4: the candidate pushdown sits under the
    quantize projection, so the normalize/floor map runs only on
    shortlisted rows), then the Q*R candidate pairs join those vectors
    on id and window per query over R rows. Pass the persisted index
    pieces (``centroids``/``cell_centroids``/``codebook``/
    ``encoded_cells``) exactly as for the shortlist operator; pass
    ``quantized_corpus`` (a persisted :func:`quantize_int8` output —
    (id, qvec)) to skip even the shortlisted re-quantize on the
    fully-persisted search path."""
    if shortlist < k:
        raise ValueError(
            f"shortlist must be >= k, got shortlist={shortlist} k={k}"
        )
    if corpus is None and quantized_corpus is None:
        raise ValueError(
            "corpus is required unless quantized_corpus is passed "
            "(the fully-persisted re-rank path also needs all four "
            "shortlist pieces)"
        )
    from candia_spark.operators.materialize import cut

    sl, _ = cut(
        pq_topk_ivfadc_residual(
            corpus, queries, k=shortlist, m=m, codewords=codewords,
            nprobe=nprobe, coarse_k=coarse_k, coarse_iters=coarse_iters,
            pq_iters=pq_iters, coarse_scale=coarse_scale, vec_col=vec_col,
            id_col=id_col, query_id_col=query_id_col, scale=scale,
            codebook=codebook, encoded_cells=encoded_cells,
            centroids=centroids, cell_centroids=cell_centroids,
            broadcast_lut=broadcast_lut,
        )
    )
    qz = quantize_int8(
        queries.select(query_id_col, vec_col), vec_col, query_id_col, scale
    ).select(F.col(query_id_col), F.col("qvec").alias("__qq"))
    # candidate pushdown on BOTH sources: only the Q*R shortlisted rows
    # pass the semi-join — the per-lane quantize map (raw corpus) or
    # the stored-integer scan (persisted quantized_corpus) reads
    # candidates, never the whole corpus
    cand_ids = sl.select(id_col).distinct()
    if quantized_corpus is not None:
        cz = quantized_corpus.join(
            F.broadcast(cand_ids), id_col, "left_semi"
        ).select(F.col(id_col), F.col("qvec").alias("__qc"))
    else:
        cz = quantize_int8(
            corpus.select(id_col, vec_col).join(
                F.broadcast(cand_ids), id_col, "left_semi"
            ),
            vec_col, id_col, scale,
        ).select(F.col(id_col), F.col("qvec").alias("__qc"))
    scored = (
        sl.select(query_id_col, id_col)
        .join(F.broadcast(qz), query_id_col)
        .join(cz, id_col)
        .select(
            query_id_col,
            id_col,
            F.aggregate(
                F.zip_with("__qq", "__qc", lambda a, b: a * b),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
