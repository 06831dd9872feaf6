"""Distributed Lloyd's k-means over an embedding column — the corpus
clustering step of a curation pipeline (domain discovery, cluster-balanced
sampling, semantic dedup pre-bucketing).

Design for scale — the textbook Spark k-means shape:

- Assignment is a PURE MAP: the k centroids are collapsed into a single
  array-of-structs row and broadcast; each vector computes its k distances
  and takes the argmin with array higher-order functions (JVM codegen, no
  UDF, no exchange of any kind — the argmin happens inside the row).
- Re-centering is one partial-aggregated shuffle keyed by (cluster, pos):
  map-side combine reduces each partition to <= k x dim rows before the
  exchange, so the exchanged volume is O(partitions x k x dim),
  independent of corpus size. Those two steps are the whole iteration.
- The driver never holds data; centroids live in the plan as a (tiny)
  aggregate subtree that Spark materializes into each broadcast, and each
  iteration's k-row centroid table is checkpointed so iteration i never
  replays iteration i-1 from lineage.

Determinism for the oracle gate (the reason this is not MLlib's KMeans):
vectors are quantized to integers (round(x * scale)), centroids are kept
as EXACT integer sums plus counts (never divided), and the distance to
centroid c is the integer-exact cross-multiplied form

    d_c = sum_i (n_c * x_i - S_ci)^2   (exact: per-term bigint, summed
                                        into decimal(38,0) so no wrap at
                                        any realistic cluster size)
    key_c = double(d_c) / double(n_c^2)

double(exact integer) and IEEE division are correctly rounded in every
engine, so the identical key — and the identical argmin — comes out of
Spark and DuckDB even when d_c exceeds 2^53: both engines round the same
exact integer the same way. Ties break on the smallest cluster id. Empty
clusters simply drop out of the centroid table (same rule on both
engines). Overflow margins are CHECKED at runtime, not just documented
(ADVICE r5): after every re-centering, a k-row aggregate over the
materialized centroid table bounds the worst per-term |n*x - s| against
the decimal(18,0) cast limit and the dim-term decimal(38,0) accumulator,
and caps cluster size where n*n must stay in bigint — a violation raises
loudly instead of wrapping silently (see _raise_overflow_margin; ~1e13
members of headroom at scale=1000 with unit-norm embeddings).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _check_carry(carry: tuple[str, ...], reserved: set[str], op: str) -> None:
    """Carry columns ride an operator's selects and group keys verbatim,
    so a carry name colliding with one of the operator's own internal or
    output columns fails with an obscure analyzer error — or worse, a
    silently wrong grouping (ADVICE r16). Fail fast with the real reason."""
    bad = sorted(set(carry) & reserved)
    if bad:
        raise ValueError(
            f"{op}: carry column(s) {bad} collide with the operator's "
            f"internal/output column names {sorted(reserved)}; rename the "
            "carried column(s)"
        )


def _quantized(
    df: DataFrame, scale: int, vec_col: str, id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, qv: array<long>, n2: bigint squared norm) — the integer-exact
    vector form shared by the whole family (one quantization convention,
    so cluster assignments and pair math always line up). n2 is computed
    lazily; Catalyst prunes it for consumers that don't select it.
    ``carry`` names extra ``df`` columns passed through unchanged (the
    probe's one-scan ride-through, r16 optimization round)."""
    return df.select(
        F.col(id_col).alias("__vid"),
        *[F.col(c) for c in carry],
        F.expr(
            f"transform(`{vec_col}`, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {int(scale)}, 0) AS BIGINT))"
        ).alias("qv"),
    ).withColumn("n2", F.expr(_N2))


# the squared norm of the quantized vector qv, in bigint
_N2 = "aggregate(transform(qv, v -> v * v), CAST(0 AS BIGINT), (a, v) -> a + v)"


def _argmin_keys(
    label: str, int_sum: bool = False, arr: str = "cs", vec: str = "qv",
    sums: str = "sv",
):
    """One (k, <label>) struct per element ``c = struct(<label>, <sums>,
    n)`` of the broadcast centroid array ``arr``, keyed by the distance of
    the row's integer vector ``vec`` to that centroid; ``array_min`` of it
    is the lexicographic argmin (ties to the smallest label). The
    decimal-exact distance convention lives HERE, once, for the flat and
    hierarchical loops, the IVF probe and the PQ codebook trainer:
    per-term bigint is exact (see module docstring margins) and the SUM
    runs in decimal(38,0) so large clusters cannot wrap.

    ``int_sum=True`` accumulates in plain bigint instead — ONLY valid
    when the caller has proven no term or partial sum can reach 2^63
    (see :func:`_static_int_safe`): terms are non-negative, so the partial
    sums are bounded by the final sum and one bound covers the whole
    fold. Both forms produce the identical exact integer, and
    double(exact int) rounds identically from either representation, so
    the argmin key — and every assignment — is bit-identical. The only
    difference is speed: decimal(38,0) accumulation runs on
    java.math.BigDecimal, roughly an order of magnitude more per term
    than long arithmetic.

    ``arr`` is SQL, so a caller can filter the array first. One SQL
    expression: built from ``F.*`` calls it took about 30 py4j round
    trips per build."""
    if int_sum:
        term, zero = "(c.n * x - s) * (c.n * x - s)", "CAST(0 AS BIGINT)"
    else:
        term = (
            "CAST(c.n * x - s AS DECIMAL(18,0)) * "
            "CAST(c.n * x - s AS DECIMAL(18,0))"
        )
        zero = "CAST(0 AS DECIMAL(38,0))"
    d = (
        f"aggregate(zip_with({vec}, c.{sums}, (x, s) -> {term}), {zero}, "
        "(acc, v) -> acc + v)"
    )
    return (
        f"transform({arr}, c -> named_struct('k', CAST({d} AS DOUBLE) / "
        f"CAST(c.n * c.n AS DOUBLE), '{label}', c.{label}))"
    )


# Gate for the bigint distance branch, decided DRIVER-SIDE per call
# (never per row: a runtime CASE WHEN over both forms doubles every
# expression tree, and the doubled trees were measured to cost more in
# Catalyst analysis/optimization per materialization than the decimal
# arithmetic they replaced). The whole-trajectory bound: every score
# component |s| <= n * qmax and n <= N, so the worst per-term
# |n*x - s| <= 2 * N * qmax =: T, and the distance sum is dim
# non-negative squares — partial sums bounded by the final sum — so
# bigint is exact iff dim * T^2 < 2^63. All exact Python ints, no
# margin factor needed. n <= _N_SQUARED_LIMIT keeps the n*n key
# divisor in bigint (also enforced at runtime by the margin checks).
def _static_int_safe(n_rows: int, qmax: int, dim: int) -> bool:
    t = 2 * n_rows * qmax
    return n_rows <= _N_SQUARED_LIMIT and dim * t * t < 2**63


def _recenter(assign: DataFrame, keys: list[str]) -> DataFrame:
    """Integer centroid table (keys..., sv, n) from an assignment that
    carries qv — the (keys, pos) partial-aggregated shuffle shared by the
    flat (keys=[cluster]) and hierarchical (keys=[super, sub])
    re-centering steps. Exchanged volume is O(partitions x |centroids| x
    dim), independent of corpus size."""
    long_form = assign.select(*keys, F.posexplode("qv").alias("pos", "v"))
    sums = long_form.groupBy(*keys, "pos").agg(
        F.sum("v").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # overflow-guard statistics (ADVICE r5): largest |component| seen
        # in this centroid's members — a free extra column on an agg that
        # shuffles anyway, consumed by _raise_overflow_margin
        F.max(F.abs("v")).alias("m"),
    )
    return sums.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda t: t["s"],
        ).alias("sv"),
        F.max("n").alias("n"),
        F.max(F.abs("s")).alias("__smax"),
        F.max("m").alias("__qmax"),
    )


# Overflow margins for the decimal-exact distance form (module docstring):
# the per-term (n*x - s) is computed in bigint and cast to decimal(18,0),
# the squared terms accumulate in decimal(38,0), and the argmin key
# divides by n*n computed in bigint. Under Spark's non-ANSI arithmetic an
# excess wraps/nulls SILENTLY and misassigns vectors, so each re-centered
# table is checked loudly instead (ADVICE r5) — one k-row aggregate over
# the already-materialized centroid table, essentially free.
_N_SQUARED_LIMIT = 3_037_000_499  # floor(sqrt(2^63 - 1)): n*n in bigint


def _term_limit(dim: int) -> int:
    """Safe bound for one distance term (n*x - s): it must fit the
    decimal(18,0) cast (which also covers the bigint intermediate) and
    ``dim`` of its squares must fit the decimal(38,0) accumulator."""
    import math

    return min(10**18, math.isqrt(10**38 // max(dim, 1)))


def _validate_quantization_margins(
    q: DataFrame, materialize: bool, iters: int
) -> tuple:
    """Up-front overflow validation (advice r6 #3): the per-iteration
    :func:`_raise_overflow_margin` runs only AFTER a re-centering on a
    materialized centroid table, so an ``iters=1`` run (no re-centering),
    the first assignment against the n=1 seed table, and every iteration
    of a ``materialize=False`` run used to execute unchecked. One corpus
    aggregate (count, global max|component|, dim) closes all three holes:

    - seed pass: every seed has n=1, so the worst first-pass term is
      |x - s| <= 2*qmax — a hard requirement for ANY run;
    - whole trajectory: |n*x - s| <= n*qmax + |s| <= 2*N*qmax for every
      possible cluster, so ``2*N*qmax < limit`` (with N <= the n*n bigint
      cap) makes every iteration statically safe regardless of how the
      clusters shake out. When that static bound cannot be shown and the
      dynamic per-iteration checks will not run (materialize=False with
      iters >= 2), raise loudly rather than risk a silent non-ANSI wrap.
    """
    stats = q.agg(*_quantization_stat_aggs()).collect()[0]
    _raise_quantization_margins(
        stats["n_rows"], stats["qmax"], stats["dim"], materialize, iters
    )
    return (stats["n_rows"], stats["qmax"], stats["dim"])


def _quantization_stat_aggs() -> list:
    """The three aggregates the up-front margin validation reads —
    shared by the standalone collect form and the quantized corpus's
    cut."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.max(
            F.array_max(F.transform("qv", lambda v: F.abs(v)))
        ).alias("qmax"),
        F.max(F.size("qv")).alias("dim"),
    ]


def _raise_quantization_margins(
    n_rows, qmax, dim, materialize: bool, iters: int
) -> None:
    n_rows = int(n_rows or 0)
    if n_rows == 0:
        return
    qmax = int(qmax or 0)
    dim = max(int(dim or 1), 1)
    limit = _term_limit(dim)
    if 2 * qmax >= limit:
        raise ValueError(
            "k-means overflow margin exceeded before the first assignment: "
            f"max|quantized component| {qmax} (dim {dim}) puts the worst "
            f"seed-pass distance term |x - s| at {2 * qmax} (safe bound "
            f"{limit}); the decimal-exact distance would wrap silently "
            "under non-ANSI arithmetic. Reduce `scale`."
        )
    statically_safe = (
        2 * n_rows * qmax < limit and n_rows <= _N_SQUARED_LIMIT
    )
    if not statically_safe and not materialize and iters > 1:
        raise ValueError(
            "k-means margins cannot be guaranteed statically "
            f"(2 * {n_rows} rows * max|component| {qmax} exceeds the safe "
            f"term bound {limit}) and materialize=False disables the "
            "exact per-iteration overflow checks. Use materialize=True "
            "(checked re-centering) or reduce `scale`."
        )


def _overflow_margin_aggs() -> list:
    """The k-row aggregates over a re-centered centroid table that bound
    the worst per-term |n*x - s| (see :func:`_raise_overflow_margin`);
    they ride the table's own cut."""
    return [
        F.max("n").alias("n"),
        F.max("__qmax").alias("q"),
        F.max("__smax").alias("s"),
        F.max(F.size("sv")).alias("dim"),
    ]


def _raise_overflow_margin(n, q, s, dim) -> None:
    """Raise before a silent wrap can happen: bound the worst per-term
    |n*x - s| by nmax * global max|qv| + max|s| (all exact python ints
    from :func:`_overflow_margin_aggs`) and require it under BOTH the
    decimal(18,0) term cast (1e18, which also covers the bigint
    intermediate) and the decimal(38,0) accumulator with dim terms;
    separately cap n where n*n must stay in bigint. Margins are
    astronomically wide at defaults (~1e13 members at scale=1000 for
    unit-norm embeddings), so this fires only on genuinely unsafe
    scale/k choices."""
    if n is None:
        return
    nmax = int(n)
    worst = nmax * int(q or 0) + int(s or 0)
    dim = max(int(dim or 1), 1)
    limit = _term_limit(dim)
    if worst >= limit or nmax > _N_SQUARED_LIMIT:
        raise ValueError(
            "k-means overflow margin exceeded: a cluster of "
            f"{nmax} members with max|quantized component| {q} "
            f"(dim {dim}) puts the worst distance term at {worst} "
            f"(safe bound {limit}; cluster-size cap {_N_SQUARED_LIMIT}); "
            "the decimal-exact distance would wrap silently under "
            "non-ANSI arithmetic. Reduce `scale` or increase `k` "
            "(smaller clusters) — see the module docstring margins."
        )


# (nmax, max|s|) of each re-centered table a training run hands out,
# observed on the cut that made it: kmeans_probe_cells' bigint gate reads
# them here instead of running a job over the table. Keyed by the
# DataFrame object (identity), so any other table misses and is measured.
_TABLE_MARGINS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _farthest_point_seeds(
    q: DataFrame, k: int, int_sum: bool = False
) -> DataFrame:
    """Deterministic k-center greedy seeding (Gonzalez' farthest-point
    traversal) in the SAME integer-exact algebra as the Lloyd's loop:
    seed 0 is the smallest id; each next seed is the vector maximizing
    the minimum exact squared distance to the chosen set (decimal(38,0)
    sums of bigint (x-s)^2 terms — engine-exact, so the whole selection
    is SQL-expressible/unrollable the way the q57 oracle unrolls the
    iteration trajectory), ties to the smallest id.

    Why it exists (verdict r5 #6): min-id seeding is oracle-friendly but
    collapses when the k smallest ids are near-identical vectors — every
    row ties to seed 0, the other clusters empty out, and structure is
    never recovered. Farthest-point spreads seeds across the data
    diameter deterministically.

    Scale shape: k corpus passes, each a pure-map distance evaluation +
    a global top-1 (TakeOrderedAndProject — per-partition top-1 then a
    k-partition merge, no sort shuffle). The driver holds exactly the k
    chosen vectors (k x dim ints — the bounded-collect doctrine), which
    then ride to every executor as argmin literals exactly like the
    broadcast centroid row. Per-row cost grows to O(k * dim) on the last
    pass, so this is the seeding-quality option for moderate k; at
    corpus scale (k ~ N / target_cluster_size) seed hierarchically
    instead (:func:`kmeans_hierarchical`).
    """

    def dist_to(vec: list[int]):
        lit_arr = F.array(*[F.lit(int(v)) for v in vec])
        if int_sum:
            # seed distances have n == 1, so the caller's static gate
            # (|x - s| <= 2 * qmax per term) certifies plain-bigint
            # accumulation; cast the exact integer result to
            # decimal(38,0) so the __mind ordering column keeps one
            # type either way (exact — no value change)
            return F.aggregate(
                F.zip_with(
                    F.col("qv"), lit_arr, lambda x, s: (x - s) * (x - s)
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).cast("decimal(38,0)")
        return F.aggregate(
            F.zip_with(
                F.col("qv"),
                lit_arr,
                lambda x, s: (x - s).cast("decimal(18,0)")
                * (x - s).cast("decimal(18,0)"),
            ),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: acc + v,
        )

    first = q.orderBy("__vid").limit(1).select("qv").collect()
    if not first:
        raise ValueError("cannot seed k-means on an empty corpus")
    chosen: list[list[int]] = [list(first[0]["qv"])]
    base = q.select("__vid", "qv")
    for _ in range(1, k):
        mind = dist_to(chosen[0])
        for vec in chosen[1:]:
            mind = F.least(mind, dist_to(vec))
        nxt = (
            base.withColumn("__mind", mind)
            .orderBy(F.col("__mind").desc(), F.col("__vid").asc())
            .limit(1)
            .select("qv")
            .collect()
        )
        chosen.append(list(nxt[0]["qv"]))
    spark = q.sparkSession
    return spark.createDataFrame(
        [(vec, i, 1) for i, vec in enumerate(chosen)],
        "sv array<bigint>, cluster bigint, n bigint",
    )


def _assignments(
    df: DataFrame,
    k: int,
    iters: int,
    scale: int,
    vec_col: str,
    id_col: str,
    materialize: bool = True,
    keep_vectors: bool = False,
    seeding: str = "min_id",
    probes: int = 1,
    _return_centroids: bool = False,
    _return_both: bool = False,
    stats_out: dict | None = None,
) -> DataFrame:
    """Core Lloyd's loop; returns (``__vid``, cluster) — plus (qv, n2) when
    ``keep_vectors`` (the pair-scan consumers read the quantized vectors
    straight from the materialized assignment instead of re-joining the
    corpus). ``probes > 1`` multi-assigns each vector to its ``probes``
    nearest centroids ON THE FINAL PASS ONLY (re-centering always uses
    the true argmin) — the IVF-multiprobe device for consumers that scan
    within clusters and would otherwise miss cross-border neighbors; the
    top-p is the same lexicographic order as the argmin (array_sort of
    the same key structs), so it is engine-exact like everything else.

    ``_return_both`` returns ``(assign, cent)`` — the final-pass
    assignment AND the (cluster, sv, n) table that pass assigned
    against (= ``kmeans_centroids`` of the same trajectory). Consumers
    that need BOTH pieces (the trained-IVFADC index builders: cells at
    build time, the table for query probes at search time) previously
    called ``kmeans_centroids`` and then re-assigned via
    ``kmeans_probe_cells(nprobe=1)`` — a SECOND quantize scan of the
    corpus plus a duplicate k-distance argmin pass over it, producing
    bit-identical output to the final pass this loop already runs
    (same argmin structs against the same table; the r16 optimization
    round removed the duplicate pass, guide §1.2/§2.4)."""
    if k <= 0 or iters <= 0:
        raise ValueError(f"k and iters must be positive, got k={k} iters={iters}")
    if scale <= 0:
        raise ValueError(f"scale must be positive, got {scale}")
    if probes < 1:
        raise ValueError(f"probes must be >= 1, got {probes}")
    if seeding not in ("min_id", "farthest"):
        raise ValueError(
            f"seeding must be 'min_id' or 'farthest', got {seeding!r}"
        )
    from candia_spark.operators.materialize import cut

    q = _quantized(df, scale, vec_col, id_col)
    if materialize:
        # ONE corpus pass serves both: the up-front margin validation
        # rides the quantized corpus's own cut (replacing a separate
        # validation aggregate job), and every later pass — the seed
        # scan and all `iters` assignment passes — reads stored integer
        # rows instead of re-deriving the quantize transform from the
        # source scan. The re-scans are what grow with the corpus; the
        # one-time cut does not.
        # Cut (__vid, qv) only: n2 is re-derived lazily from the stored
        # qv below, so consumers that never select it still pay
        # nothing — and an absurd quantization scale cannot overflow the
        # eager n2 squares before the margin validation gets to raise
        q, got = cut(q.select("__vid", "qv"), *_quantization_stat_aggs())
        q = q.withColumn("n2", F.expr(_N2))
        stats = (got["n_rows"], got["qmax"], got["dim"])
        _raise_quantization_margins(*stats, materialize, iters)
    else:
        stats = _validate_quantization_margins(q, materialize, iters)
    # the static whole-trajectory gate for the bigint distance branch —
    # derived from the same stats the margin validation already
    # collected, so the fast arithmetic costs zero extra jobs and falls
    # back to the decimal form exactly where the exactness argument
    # needs it (see _static_int_safe)
    n_rows, qmax, dim = (
        int(stats[0] or 0), int(stats[1] or 0), max(int(stats[2] or 1), 1)
    )
    if stats_out is not None:
        stats_out.update(n_rows=n_rows, qmax=qmax, dim=dim)
    int_sum = _static_int_safe(n_rows, qmax, dim)
    if seeding == "farthest":
        # seed terms are (x - s)^2 with |x|,|s| <= qmax — their own,
        # much wider static gate
        seeds = _farthest_point_seeds(
            q, k, int_sum=dim * (2 * qmax) ** 2 < 2**63
        )
    else:
        # seed: k smallest ids, cluster = rank - 1. The window runs on a
        # k-row frame (post-limit), not the corpus.
        seeds = (
            q.orderBy("__vid")
            .limit(k)
            .select(
                F.col("qv").alias("sv"),
                (F.row_number().over(Window.orderBy("__vid")) - 1)
                .cast("bigint")
                .alias("cluster"),
                F.lit(1).cast("bigint").alias("n"),
            )
        )
    cent = seeds  # (cluster, sv: array<long> integer sums, n: member count)
    assign = None
    cent_out = None
    margin = None  # the overflow stats observed on the last re-centering
    # array_min over (key, cluster) structs = lexicographic argmin with
    # the smallest-cluster tie-break; the final multiprobe pass takes the
    # top-p of the SAME total order (array_sort of the same structs).
    # Built once: only the broadcast row under "cs" changes per pass.
    keyed = _argmin_keys("cluster", int_sum)
    best = F.expr(f"array_min({keyed}).cluster").alias("cluster")
    if probes > 1:
        ranked = F.expr(f"explode(slice(array_sort({keyed}), 1, {probes}))")
    for it in range(iters):
        if it == iters - 1:
            # the centroid table the FINAL pass assigns against —
            # kmeans_centroids' exit point, same trajectory to the step.
            # Explicit select: re-centered tables carry the internal
            # __smax/__qmax overflow-guard columns (ADVICE r14) — the
            # documented (cluster, sv, n) contract must hold for
            # persisted centroid tables regardless of iters.
            if _return_centroids or _return_both:
                cent_out = cent.select("cluster", "sv", "n")
                if margin is not None:
                    _TABLE_MARGINS[cent_out] = (margin["n"], margin["s"])
            if _return_centroids:
                return cent_out
        # all centroids in ONE broadcast row -> assignment is a map: the
        # k distances and their argmin evaluate inside each corpus row
        carr = cent.agg(
            F.collect_list(F.struct("cluster", "sv", "n")).alias("cs")
        )
        joined = q.crossJoin(F.broadcast(carr))
        if probes > 1 and it == iters - 1:
            # final pass only: exploded to one row per probed cluster
            assign = joined.select(
                "__vid", "qv", "n2", ranked.alias("__pk")
            ).select(
                "__vid", "qv", "n2", F.col("__pk")["cluster"].alias("cluster")
            )
        else:
            assign = joined.select("__vid", "qv", "n2", best)
        if it < iters - 1:
            cent = _recenter(assign, ["cluster"])
            if materialize:
                # checkpointing k x dim integers is free and caps the
                # loop at one corpus pass per iteration (without the cut,
                # iteration i's broadcast re-derives every earlier
                # iteration from lineage: O(iters^2) corpus scans); the
                # overflow-margin check rides the same job
                cent, margin = cut(cent, *_overflow_margin_aggs())
                _raise_overflow_margin(**margin)
    if not keep_vectors:
        assign = assign.select("__vid", "cluster")
    if materialize:
        # the final assignment feeds the size aggregate, the output join,
        # and the pair-scan self-joins — cut once, reuse the stored rows
        assign, _ = cut(assign)
    if _return_both:
        return assign, cent_out
    return assign


def kmeans_train_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """One Lloyd's run, BOTH products: the trained (cluster, sv, n)
    centroid table (= :func:`kmeans_centroids`) and the (id, cluster)
    assignment of every row against that table (=
    :func:`kmeans_probe_cells` at nprobe=1). The two are produced by
    the SAME loop — the final assignment pass ranks against the
    returned table by construction — so callers that previously ran
    ``kmeans_centroids`` followed by a probe re-assignment (the
    trained-IVFADC builders) save one full corpus quantize + argmin
    pass while keeping cell/probe consistency bit-identical.

    The table comes back materialized: after a re-centering it is the
    loop's own cut, and with ``iters=1`` (the lazy seed scan) it is cut
    here."""
    from candia_spark.operators.materialize import cut

    assign, cent = _assignments(
        df, k, iters, scale, vec_col, id_col, _return_both=True
    )
    if iters < 2:
        cent, _ = cut(cent)
    return (
        cent,
        assign.select(F.col("__vid").alias(id_col), "cluster"),
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
    seeding: str = "min_id",
) -> DataFrame:
    """Fixed-iteration Lloyd's k-means; returns (id, cluster, cluster_size).

    Init is deterministic either way (SQL-expressible, unlike k-means++
    RNG draws): ``seeding="min_id"`` (default — the q57 oracle
    convention) seeds clusters 0..k-1 with the k smallest ids in id
    order; ``seeding="farthest"`` runs the deterministic farthest-point
    traversal (:func:`_farthest_point_seeds`) — the quality option when
    the k smallest ids may be near-identical vectors, which collapses
    min-id seeding to a single effective cluster. ``iters``
    assignment passes run with ``iters - 1`` re-centering steps between
    them, i.e. the output is the assignment AFTER the last re-centering.

    ``materialize`` (default True) checkpoints each iteration's k-row
    centroid table and the final assignment — one corpus pass per
    iteration. ``materialize=False`` keeps the whole plan lazy (used by
    plan-shape tests to inspect the assignment map's physical shape).
    """
    assign = _assignments(
        df, k, iters, scale, vec_col, id_col,
        materialize=materialize, seeding=seeding,
    )
    sizes = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return assign.join(F.broadcast(sizes), "cluster").select(
        F.col("__vid").alias(id_col), F.col("cluster"), F.col("cluster_size")
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
    seeding: str = "min_id",
) -> DataFrame:
    """The (cluster, sv, n) integer centroid table that
    :func:`kmeans_assign`'s FINAL pass assigns against — the seeds
    re-centered ``iters - 1`` times along the identical trajectory
    (same seeding, same argmin ties, same decimal-exact distance
    form). This is the piece a TRAINED coarse quantizer needs: cells
    assigned at index-build time and query probes at search time must
    rank against the SAME centroids or the index silently mis-routes
    (:func:`kmeans_probe_cells`, q124's trained-IVFADC chain).

    ``sv`` is the per-position integer SUM and ``n`` the member count
    (the Lloyd's-loop form — never a divided mean, so every downstream
    comparison stays exact). k rows: broadcast material."""
    return _assignments(
        df, k, iters, scale, vec_col, id_col,
        materialize=materialize, seeding=seeding, _return_centroids=True,
    )


def _table_margin(centroids: DataFrame) -> tuple:
    """nmax and max|s| of a centroid table no training run registered:
    one collect of its k rows."""
    rows = centroids.select(
        "n", F.array_max(F.transform("sv", lambda v: F.abs(v))).alias("s")
    ).collect()
    return (
        max((r["n"] for r in rows if r["n"] is not None), default=None),
        max((r["s"] for r in rows if r["s"] is not None), default=None),
    )


def kmeans_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "query_id",
    int_sum: bool | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Top-``nprobe`` nearest trained cells per query — the IVF probe
    stage against a :func:`kmeans_centroids` table: the SAME
    decimal-exact d/n^2 key and smallest-cluster ties as the
    assignment map, so probing and cell assignment share one total
    order (array_sort of the very structs array_min reduces — the
    multiprobe device). Centroids ride one broadcast row; the probe
    pass is a pure map over the query batch (over its cut when
    ``int_sum`` is derived here), exploded to (id, cluster) rows.

    Output: (id, cluster, *carry), nprobe rows per query. ``carry``
    names extra ``queries`` columns replicated onto each probe row —
    the one-scan assign+payload device (an nprobe=1 consumer that needs
    the routed vector avoids re-joining the probe output against a
    second scan of the batch; r16 optimization round, guide §2.4)."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    _check_carry(
        carry, {id_col, "__vid", "qv", "n2", "cs", "__p", "cluster"},
        "kmeans_probe_cells",
    )
    q = _quantized(queries, scale, vec_col, id_col, carry=carry)
    if int_sum is None:
        # derive the bigint-branch gate from one cut: the query side's
        # max|component| and dim ride a cut of the quantized batch,
        # which the probe map below then reads instead of the batch, and
        # the centroid side's nmax and max|s| are the ones the training
        # run observed on the cut that made the table (a table from
        # anywhere else is collected whole: k rows, broadcast material
        # anyway). The worst per-term |n*x - s| <= nmax * qmax + smax —
        # exact Python ints, so no margin factor; a failed bound keeps
        # the decimal branch, which is always correct. (The aggregates
        # per side, cross-joined into one collect, cost five jobs under
        # AQE.)
        from candia_spark.operators.materialize import cut

        q, got = cut(
            q.drop("n2"),
            F.max(
                F.array_max(F.transform("qv", lambda v: F.abs(v)))
            ).alias("qmax"),
            F.max(F.size("qv")).alias("dim"),
        )
        nmax, smax = _TABLE_MARGINS.get(centroids) or _table_margin(centroids)
        qmax = int(got["qmax"] or 0)
        dim = max(int(got["dim"] or 1), 1)
        nmax = int(nmax or 1)
        smax = int(smax or 0)
        worst = nmax * qmax + smax
        int_sum = dim * worst * worst < 2**63 and nmax <= _N_SQUARED_LIMIT
    carr = centroids.agg(
        F.collect_list(F.struct("cluster", "sv", "n")).alias("cs")
    )
    keyed = _argmin_keys("cluster", int_sum)
    return (
        q.crossJoin(F.broadcast(carr))
        .select(
            F.col("__vid").alias(id_col),
            *[F.col(c) for c in carry],
            F.expr(f"explode(slice(array_sort({keyed}), 1, {nprobe}))")
            .alias("__p"),
        )
        .select(
            id_col,
            F.col("__p")["cluster"].alias("cluster"),
            *[F.col(c) for c in carry],
        )
    )


def _in_cluster_pairs(
    df: DataFrame,
    k: int,
    iters: int,
    scale: int,
    vec_col: str,
    id_col: str,
    clusters: DataFrame | None = None,
    probes: int = 1,
) -> DataFrame:
    """All within-cluster vector pairs with exact integer dot products and
    the deterministic double cosine (see module docstring for why double
    division/sqrt of exactly-representable integers is engine-invariant).

    This is the SemDeDup scale trick (Abbas et al.): k-means pre-bucketing
    shrinks the pair space from O(N^2) to sum |cluster|^2 — at corpus
    scale k grows with N (k ~ N / target_cluster_size) so the per-cluster
    quadratic term stays bounded. The assignment table is materialized
    WITH the quantized vectors, so the x/y sides of the self-join read
    the stored rows (no corpus re-join, no k-means DAG replay) and the
    only exchange is the shuffle on the cluster key; skew is bounded by
    the largest cluster.

    ``clusters`` overrides the built-in flat k-means with any externally
    computed bucketing — (id, cluster) rows, e.g.
    :func:`kmeans_hierarchical` leaves at corpus scale, or an IVF/LSH
    bucket id. The vectors are quantized once and joined to it.
    """
    from candia_spark.operators.materialize import cut

    if clusters is None:
        a = _assignments(
            df, k, iters, scale, vec_col, id_col,
            materialize=True, keep_vectors=True, probes=probes,
        )
    elif probes > 1:
        raise ValueError(
            "probes > 1 needs the built-in k-means (an external clusters= "
            "bucketing carries no distance ranking to probe); multi-probe "
            "an external bucketing by passing multi-assigned (id, cluster) "
            "rows directly"
        )
    else:
        # same guard as the flat path: the clusters branch quantizes
        # directly, and scale=0 would silently zero every vector
        if scale <= 0:
            raise ValueError(f"scale must be positive, got {scale}")
        a, _ = cut(
            _quantized(df, scale, vec_col, id_col).join(
                clusters.select(
                    F.col(id_col).alias("__vid"), F.col("cluster")
                ),
                "__vid",
            )
        )
    x, y = a.alias("x"), a.alias("y")
    dot = F.aggregate(
        F.zip_with(F.col("x.qv"), F.col("y.qv"), lambda u, v: u * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.__vid") < F.col("y.__vid")),
        )
        .select(
            F.col("x.cluster").alias("cluster"),
            F.col("x.__vid").alias("id_a"),
            F.col("y.__vid").alias("id_b"),
            dot.alias("dot"),
            F.col("x.n2").alias("n2_a"),
            F.col("y.n2").alias("n2_b"),
        )
        .withColumn(
            "cos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("n2_a").cast("double") * F.col("n2_b").cast("double")),
        )
    )


def cluster_closest_pairs(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Per cluster: the most-similar vector pair (argmax cosine, ties to
    the smallest ids) and the number of pairs scanned. A thin output that
    certifies the WHOLE in-cluster pair computation — the argmax depends
    on every pair, so a single wrong dot product anywhere moves it —
    which is what makes it the oracle gate for the semantic-dedup family
    (q58). Clusters with fewer than two members drop out.
    """
    prs = _in_cluster_pairs(df, k, iters, scale, vec_col, id_col, clusters)
    w = Window.partitionBy("cluster").orderBy(
        F.col("cos").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    wc = Window.partitionBy("cluster")
    return (
        prs.withColumn("n_pairs", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("cluster", "id_a", "id_b", "dot", "cos", "n_pairs")
    )


def cluster_nearest_neighbors(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    clusters: DataFrame | None = None,
    probes: int = 1,
) -> DataFrame:
    """Per-vector nearest neighbor WITHIN its k-means cluster — the
    bucketed kNN-graph building block (SemDeDup-family pipelines rank
    duplicates and diversity-filter corpora off exactly this edge set):
    for every vector, the in-cluster argmax-cosine partner. Returns
    (id, neighbor_id, cluster, dot, cos); vectors in singleton clusters
    drop out (they have no in-cluster neighbor, same rule both engines).

    Scale shape: the pair scan is :func:`_in_cluster_pairs` (in-cluster
    only — sum |c|^2 mass, never N^2), symmetrized with a union-all
    (each undirected pair feeds both endpoints' argmax), and reduced by
    one per-id window over in-cluster edges. Ties break on the smallest
    neighbor id, then the smallest cluster (which only matters under
    multi-probe, where a pair can collide in several shared clusters);
    the cosine is the deterministic double of exact integer dot/norms
    (module docstring), so the argmax is engine-invariant. ``clusters``
    injects an external bucketing (hierarchical leaves at corpus scale)
    exactly as in :func:`cluster_closest_pairs`.

    ``probes`` > 1 is the border-recall fix (the classic in-cluster-only
    weakness: a vector's true neighbor can sit just across a centroid
    boundary): each vector joins the pair scan in its ``probes`` nearest
    clusters — the IVF-multiprobe device :mod:`operators.similarity`
    uses, in the same integer-exact ranking as the assignment itself.
    Pair mass multiplies by ~probes^2; the edge set then covers any pair
    whose members share AT LEAST one probed cluster.
    """
    prs = _in_cluster_pairs(
        df, k, iters, scale, vec_col, id_col, clusters, probes=probes
    )
    fwd = prs.select(
        "cluster",
        F.col("id_a").alias(id_col),
        F.col("id_b").alias("neighbor_id"),
        "dot",
        "cos",
    )
    rev = prs.select(
        "cluster",
        F.col("id_b").alias(id_col),
        F.col("id_a").alias("neighbor_id"),
        "dot",
        "cos",
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc(), F.col("cluster").asc()
    )
    return (
        fwd.unionAll(rev)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "neighbor_id", "cluster", "dot", "cos")
    )


def kmeans_hierarchical(
    df: DataFrame,
    k1: int = 4,
    k2: int = 4,
    iters1: int = 2,
    iters2: int = 2,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-level hierarchical Lloyd's k-means — the 100 TB form of
    :func:`kmeans_assign`: assign each vector to one of ``k1``
    super-clusters, then sub-cluster WITHIN each super-cluster into
    ``k2`` children. Returns (id, super_cluster, cluster, cluster_size)
    with ``cluster = super_cluster * k2 + sub`` (globally unique, stable).

    Why it scales where flat k-means cannot: flat assignment is
    N x K x dim work per iteration, so growing K with the corpus
    (K ~ N / target_cluster_size, the SemDeDup operating contract) makes
    the bill quadratic in N. Hierarchical assignment is
    N x (k1 + k2) x dim — each vector sees only its own super-cluster's
    k2 sub-centroids (k1 x k2 = K total leaves) — the classic IVF/curse
    workaround, here as a pure DataFrame composition:

    - phase 1 is :func:`_assignments` (pure-map argmin, one
      (cluster, pos) shuffle per re-centering);
    - phase 2 broadcasts ONE row per super-cluster holding its k2
      sub-centroid array and hash-joins it on the super key — the argmin
      again evaluates inside each corpus row, and re-centering shuffles
      (super, sub, pos) partials, O(partitions x k1 x k2 x dim).

    Determinism matches kmeans_assign: sub-seeds are the k2 smallest ids
    per super-cluster, distances use the same decimal-exact integer form,
    ties break on the smallest sub id. Empty sub-clusters drop out.
    """
    if k2 <= 0 or iters2 <= 0:
        raise ValueError(f"k2 and iters2 must be positive, got {k2}/{iters2}")
    from candia_spark.operators.materialize import cut

    stats: dict = {}
    sup = _assignments(
        df, k1, iters1, scale, vec_col, id_col,
        materialize=True, keep_vectors=True, stats_out=stats,
    ).withColumnRenamed("cluster", "super")
    # phase 2 assigns the SAME quantized corpus against sub-centroids
    # whose members are a subset of it, so phase 1's whole-trajectory
    # bound covers every sub-cluster term too
    int_sum = _static_int_safe(
        stats.get("n_rows", 0), stats.get("qmax", 0), stats.get("dim", 1)
    )

    # sub-seeds: the k2 smallest ids inside each super-cluster
    wseed = Window.partitionBy("super").orderBy("__vid")
    cent = (
        sup.withColumn("__rn", F.row_number().over(wseed))
        .filter(F.col("__rn") <= k2)
        .select(
            "super",
            (F.col("__rn") - 1).cast("bigint").alias("sub"),
            F.col("qv").alias("sv"),
            F.lit(1).cast("bigint").alias("n"),
        )
    )
    assign = None
    # same argmin/distance convention as the flat loop (one shared
    # implementation: _argmin_keys, same static bigint gate), labeled by
    # the sub id
    best = F.expr(f"array_min({_argmin_keys('sub', int_sum)}).sub")
    for it in range(iters2):
        cmap = cent.groupBy("super").agg(
            F.collect_list(F.struct("sub", "sv", "n")).alias("cs")
        )
        joined = sup.join(F.broadcast(cmap), "super")
        assign = joined.select("__vid", "super", "qv", best.alias("sub"))
        if it < iters2 - 1:
            cent, got = cut(
                _recenter(assign, ["super", "sub"]), *_overflow_margin_aggs()
            )
            _raise_overflow_margin(**got)
    out, _ = cut(
        assign.select(
            "__vid",
            "super",
            (F.col("super") * k2 + F.col("sub")).alias("cluster"),
        )
    )
    sizes = out.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return out.join(F.broadcast(sizes), "cluster").select(
        F.col("__vid").alias(id_col),
        F.col("super").alias("super_cluster"),
        F.col("cluster"),
        F.col("cluster_size"),
    )


def cluster_purity(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Cluster-vs-label purity audit — the evaluation a pipeline runs
    before trusting k-means buckets for domain balancing or SemDeDup:
    per cluster, the majority ground-truth label and how much of the
    cluster it owns. Output one row per cluster — (cluster,
    cluster_size, majority_label, n_majority) — counters bigint, no
    division (purity IS n_majority/cluster_size, but the ratio stays
    with the caller so the gated answer is engine-exact). Majority ties
    break to the smallest label so both engines agree; the tie-break is
    a struct-min on the RAW label (verdict r9 wrong #4 — the earlier
    negated-bigint device silently nulled string labels), so any
    orderable label type works and ``majority_label`` keeps the input
    column's type. String labels order by binary collation — the same
    order DuckDB's default collation gives, so the oracle gate holds
    for strings too. Rows with a NULL label are EXCLUDED from the audit
    (both cluster_size and the majority count run over labeled rows
    only): a NULL can't be a "majority ground-truth label", and the two
    engines order NULLs differently in a count tie (Spark's struct-min
    puts NULL smallest, DuckDB's ORDER BY puts it last — ADVICE r10),
    so keeping them would make the answer engine-dependent.

    Scale shape: rides kmeans_assign's broadcast-centroid map; the
    contingency table is one (cluster, label) keyed agg whose output is
    at most k x |labels| rows, and the majority argmax runs on that
    k x |labels| table — nothing downstream of the assignment ever
    shuffles corpus-sized data."""
    assign = kmeans_assign(
        df, k=k, iters=iters, scale=scale, vec_col=vec_col, id_col=id_col
    )
    cont = (
        assign.join(
            df.select(F.col(id_col), F.col(label_col)).filter(
                F.col(label_col).isNotNull()
            ),
            id_col,
        )
        .groupBy("cluster", label_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    return (
        cont.groupBy("cluster")
        .agg(
            F.sum("__n").cast("bigint").alias("cluster_size"),
            # struct-min: (-n) ascending = n descending, tie -> smallest
            # label in the label's OWN order (numeric or string alike)
            F.min(
                F.struct(
                    (-F.col("__n")).alias("__negn"),
                    F.col(label_col).alias("__label"),
                )
            ).alias("__best"),
        )
        .select(
            "cluster",
            "cluster_size",
            F.col("__best.__label").alias("majority_label"),
            (-F.col("__best.__negn")).cast("bigint").alias("n_majority"),
        )
    )
